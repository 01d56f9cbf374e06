"""Relational operator battery over the star-schema tables (SURVEY.md §2.B,
final paragraph): one query per operator family the reference's capabilities
map onto — filter/projection, equi-join + group-agg, broadcast join,
sort+limit, distinct/set-ops, rollup/cube, scalar functions.

All plans are declarative DataFrame compositions; Catalyst handles
pushdown/pruning/join selection. Scale notes per query in docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import dsum, dsum_lattice, money, rate
from snackfs_spark.functions import md5_fp, ts_str
from snackfs_spark.memo import materialize_shared, shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table


@register(
    "q1_pricing_summary",
    oracle="""
    -- Every money sum here can cross 2^53 at large sf, where DuckDB's
    -- decimal->double cast (hugeint + scale divide = two roundings)
    -- diverges 1 ULP from Spark's correctly rounded BigDecimal cast —
    -- the sf1 spot-replica caught sum_charge on exactly such a
    -- boundary (r7). All sums therefore ride the int64 lattice:
    -- CAST(SUM(CAST(x*scale AS BIGINT)) AS DOUBLE)/scale is the same
    -- correctly-rounded two-op sequence in both engines. The narrower
    -- product casts keep the 3-factor charge inside DuckDB's 38-digit
    -- decimal width (18,2 factors would hit width 56 = silent double
    -- fallback); per-row magnitudes are scale-independent (< 1e10).
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2))) * 1000000 AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
      CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
      CAST(SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the group-by aggregation family (reference analog:
    du/dus/count subtree aggregation, SnackFSShell.scala:365-370,536-548).

    Scale: map-side partial aggregation into 6 groups — shuffle carries
    only per-partition partials, so this holds at any input size. Decimal
    accumulation keeps results deterministic under any parallelism.
    """
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    # int64-lattice sums (functions.dsum_lattice): these group sums
    # cross 2^53 at large sf, where the direct decimal->double cast is
    # not engine-portable (DESIGN.md rule 8; caught by the r7 sf1
    # spot-replica on sum_charge).
    qty100 = (money("l_quantity") * 100).cast("long")
    price100 = (money("l_extendedprice") * 100).cast("long")
    disc100 = (rate("l_discount") * 100).cast("long")
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_lattice(money("l_quantity"), "sum_qty", 100),
            dsum_lattice(money("l_extendedprice"), "sum_base_price", 100),
            dsum_lattice(
                money("l_extendedprice") * (1 - rate("l_discount")),
                "sum_disc_price",
                10000,
            ),
            dsum_lattice(
                money("l_extendedprice")
                * (1 - rate("l_discount"))
                * (1 + rate("l_tax")),
                "sum_charge",
                1000000,
            ),
            (F.sum(qty100).cast("double") / 100 / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price100).cast("double") / 100 / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.sum(disc100).cast("double") / 100 / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar aggregate. All four predicates
    push to the parquet scan (verified in tests/test_plans.py); at 100 TB
    this reads only the 3 referenced columns' pages that survive
    row-group stats pruning."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(money("l_extendedprice") * rate("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two equi-joins → group-agg →
    top-10. customer (filtered) broadcasts; the orders⋈lineitem join
    shuffles on orderkey, which AQE can skew-split. Tie-break on orderkey
    keeps the LIMIT deterministic."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(money("l_extendedprice") * (1 - rate("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", ts_str("o_orderdate").alias("o_orderdate"))
    )


@register(
    "q5_regional_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through region→nation→supplier into the
    fact table. All three dims broadcast (they stay KB-MB at any SF), so
    the fact table is scanned once with zero shuffles before the final
    6-group aggregate."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("n_name")
        .agg(dsum(money("l_extendedprice") * (1 - rate("l_discount")), "revenue"))
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + limit: global top-25 orders by price. Spark executes as
    TakeOrderedAndProject — per-partition top-K then a K-row merge on the
    driver, never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice",
                ts_str("o_orderdate").alias("o_orderdate"))
    )


@register(
    "setops_customer_years",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
    """,
)
def setops_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers active in both 1999 and 2000 but not
    2001 (intersect/except over distinct keys; years chosen inside the
    data's 1995-2001 span so each leg is non-empty)."""
    o = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == y).select("o_custkey")

    return year_keys(1999).intersect(year_keys(2000)).exceptAll(
        year_keys(2001).distinct()
    ).distinct()


@register(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup: per-(flag,status), per-flag, and grand totals in one pass
    (grouping-sets family, §2.D — free via Catalyst)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(money("l_extendedprice"), "sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "pivot_event_type_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts. Explicit value list keeps the
    plan a single pass (no distinct-values pre-job)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("click", "view", "purchase", "error")],
    )


@register(
    "scalar_function_battery",
    oracle="""
    SELECT o_orderkey,
           substr(o_orderpriority, 1, 1) AS prio_code,
           upper(o_orderstatus) || '-' || o_orderpriority AS status_tag,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           year(o_orderdate) * 100 + month(o_orderdate) AS order_month,
           abs(round(o_totalprice, 0)) AS rounded_price,
           length(o_orderpriority) AS prio_len
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/date/math functions (§2.B final paragraph): the
    function surface the reference touches (replaceFirst path surgery,
    date formatting) and the standard library around it."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat(
            F.upper("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")
        ).alias("status_tag"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long").alias("order_month"),
        F.abs(F.round("o_totalprice", 0)).alias("rounded_price"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
    )


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream, batch form —
    the same plan Structured Streaming runs incrementally
    (snackfs_spark/streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        ts_str(F.date_trunc("hour", "ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value").cast("decimal(18,2)"), "total_value"),
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (§2.D: comes free with Catalyst): parse the props
    JSON column and aggregate by the extracted key."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.get_json_object("props", "$.k").cast("long").alias("k_value")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "approx_aggregates",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(1 AS BIGINT) AS parts_within_eps,
           CAST(1 AS BIGINT) AS orders_within_eps,
           CAST(1 AS BIGINT) AS p50_within_rank_eps,
           CAST(1 AS BIGINT) AS p95_within_rank_eps,
           CAST(1 AS BIGINT) AS p99_within_rank_eps
    FROM lineitem
    """,
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for the 100 TB posture (§2.C) with an
    ERROR-BOUND oracle (r7 VERDICT #5): the sketches' internals differ
    between engines, so instead of hashing raw estimates the query
    emits the exact values (hash-matched) plus integer-exact
    within-bound flags the oracle asserts as constant 1 — a violated
    published bound becomes a hash mismatch, not a shrug.

    Bounds checked: approx_count_distinct (HLL++, default rsd 0.05) to
    3*rsd = 15% relative error via cross-multiplied integer compare;
    percentile_approx(accuracy=10000) to its rank guarantee — the
    returned element's rank interval [#(v<x)+1, #(v<=x)] must intersect
    [floor(qN) - eN, ceil(qN) + eN] with eN = floor(N/accuracy) + 1
    (the +1 absorbs the floor/ceil seam; GK merge order may shift the
    element, never past the rank bound).

    Scale: the sketch pass is one map-side-mergeable aggregate; the
    verification pass broadcasts the 1-row sketch result back over the
    scan. Both are single-shuffle at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    ap = li.agg(
        F.approx_count_distinct("l_partkey").cast("long").alias("ap_parts"),
        F.approx_count_distinct("l_orderkey").cast("long").alias("ap_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), 10000).alias("ap50"),
        F.percentile_approx("l_extendedprice", F.lit(0.95), 10000).alias("ap95"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), 10000).alias("ap99"),
    )
    price = F.col("l_extendedprice")
    chk = li.crossJoin(F.broadcast(ap)).agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_parts"),
        F.count_distinct("l_orderkey").cast("long").alias("exact_orders"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("ap_parts").alias("ap_parts"),
        F.max("ap_orders").alias("ap_orders"),
        *[
            F.sum((price <= F.col(f"ap{q}")).cast("long")).alias(f"le{q}")
            for q in (50, 95, 99)
        ],
        *[
            F.sum((price < F.col(f"ap{q}")).cast("long")).alias(f"lt{q}")
            for q in (50, 95, 99)
        ],
    )

    def _cd_ok(ap_col: str, ex_col: str):
        # |ap - ex| <= 0.15 * ex  as  20*|ap - ex| <= 3*ex (int-exact)
        return (
            F.abs(F.col(ap_col) - F.col(ex_col)) * 20 <= F.col(ex_col) * 3
        ).cast("long")

    def _rank_ok(q: int):
        # eN = floor(N/accuracy) + 1; target rank qN/100 on the int
        # lattice; the element's rank interval must intersect the band
        target = F.expr(f"(n * {q}) div 100")
        eps = F.expr("(n div 10000) + 1")
        lo, hi = target - eps, target + eps + 1
        return (
            (F.col(f"lt{q}") + 1 <= hi) & (F.col(f"le{q}") >= lo)
        ).cast("long")

    return chk.select(
        "exact_parts",
        "exact_orders",
        _cd_ok("ap_parts", "exact_parts").alias("parts_within_eps"),
        _cd_ok("ap_orders", "exact_orders").alias("orders_within_eps"),
        _rank_ok(50).alias("p50_within_rank_eps"),
        _rank_ok(95).alias("p95_within_rank_eps"),
        _rank_ok(99).alias("p99_within_rank_eps"),
    )


@register(
    "q_distinct_parts",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts — the oracle-checked counterpart of
    approx_aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "rel_semi_anti_joins",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 1995)) AS active_1995,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS never_ordered
    """,
)
def rel_semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS): customers active in 1995 and
    customers who never ordered. Both execute as broadcast/shuffled hash
    semi-joins — no row multiplication, keys only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    active = c.join(
        o.filter(F.year("o_orderdate") == 1995),
        c["c_custkey"] == F.col("o_custkey"),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("active_1995"))
    never = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("never_ordered")
    )
    return active.crossJoin(never)


@register(
    "rel_min_per_group_subquery",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_retailprice
    FROM part p
    JOIN (SELECT p_brand AS b, MIN(p_retailprice) AS mn FROM part GROUP BY p_brand) m
      ON p.p_brand = m.b AND p.p_retailprice = m.mn
    """,
)
def rel_min_per_group_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated-subquery shape: cheapest part per brand via
    aggregate-then-join-back (the decorrelated plan Catalyst would
    produce; ties produce one row per tied part in both engines)."""
    p = load_table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("b")).agg(
        F.min("p_retailprice").alias("mn")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p["p_brand"] == mins["b"]) & (p["p_retailprice"] == mins["mn"]),
        )
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "cube_order_priorities",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube: all grouping-set combinations of (status, priority) in one
    pass (§2.D grouping-sets family)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(money("o_totalprice"), "total"),
    )


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey % 100 = 0
    UNION ALL
    SELECT p_partkey, 'retailprice', p_retailprice
    FROM part WHERE p_partkey % 100 = 0
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): wide measures to long (measure, value) rows."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 100 == 0)
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) "
        "AS (measure, value)",
    )


@register(
    "distinct_users_per_type_twophase",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users_per_type_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct: COUNT(DISTINCT) over few hot groups
    (event_type has 5 values → 5 reducers if done naively). The two-phase
    rewrite first groups by (type, user) — a high-cardinality, uniform
    key that spreads across all partitions — then counts per type. Same
    result, no hot reducer; the pattern that survives skewed keys at
    100 TB."""
    ev = load_table(spark, sf_dir, "events")
    per_pair = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_pair.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_events"),
    )


@register(
    "stats_moments_battery",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_pq,
           sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) AS stddev_q
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_moments_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates via explicit moment sums. Spark's built-in
    stddev/corr use merge-order-dependent streaming updates (not
    bit-reproducible across partitionings); accumulating the raw moments
    in exact decimals and deriving stddev from them IS reproducible —
    the form a 100 TB deterministic pipeline wants."""
    li = load_table(spark, sf_dir, "lineitem")
    q = money("l_quantity")
    p = money("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("_sq"),
        F.sum(q * q).alias("_sq2"),
        F.sum(p * q).alias("_spq"),
    )
    sum_q = F.col("_sq").cast("double")
    sum_q2 = F.col("_sq2").cast("double")
    return g.select(
        "l_returnflag",
        "n",
        sum_q.alias("sum_q"),
        sum_q2.alias("sum_q2"),
        F.col("_spq").cast("double").alias("sum_pq"),
        F.sqrt((sum_q2 - sum_q * sum_q / F.col("n")) / (F.col("n") - 1)).alias("stddev_q"),
    )


@register(
    "quantile_battery",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           quantile_cont(l_quantity, 0.90) AS q90,
           quantile_cont(l_extendedprice, 0.95) AS p95_price,
           median(l_extendedprice) AS med_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (type-7, the Spark `percentile` /
    DuckDB `quantile_cont` definition) plus a discrete median. Exact
    percentile is a sort-based aggregate — fine at sf0.1; the 100 TB
    path is `approx_percentile` (see `approx_aggregates`), this query
    pins the exact semantics the sketch approximates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25D)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50D)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75D)").alias("q75"),
        F.expr("percentile(l_quantity, 0.90D)").alias("q90"),
        F.expr("percentile(l_extendedprice, 0.95D)").alias("p95_price"),
        F.median("l_extendedprice").alias("med_price"),
    )


@register(
    "events_sliding_window",
    oracle="""
    SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
             + (CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800) * INTERVAL 1 SECOND,
             '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events, (SELECT unnest([0, 1]) AS k)
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation: 1-hour windows every 30 minutes, so
    each event lands in exactly two windows. Spark's `window()` expands
    the overlap before the aggregate — same plan Structured Streaming
    runs incrementally. The oracle derives the two covering window
    starts arithmetically (slot start, slot start - slide)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value").cast("decimal(18,2)"), "total_value"),
        )
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "rel_salted_skew_join",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def rel_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the manual remedy when one join key is hot
    enough to overwhelm a single reducer and AQE's skew split can't
    apply (e.g. followed by an aggregation on the same key). The fact
    side gets a deterministic salt (hash of its unique key mod S); the
    dim side is replicated S ways; the join key becomes (custkey, salt),
    spreading each hot customer over S tasks. The post-join aggregate
    merges the salt shards, so the result is EXACTLY the unsalted join —
    which is what the oracle checks."""
    S = 8
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.hash("o_orderkey"), F.lit(S))
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    return (
        o.join(c, (o["o_custkey"] == c["c_custkey"]) & (o["salt"] == c["salt"]))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(money("o_totalprice"), "total_spend"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an extra join-side predicate
    (customers with zero matching orders must survive with count 0),
    then a distribution-of-counts re-aggregation. The outer join
    preserves the null-extension semantics; COUNT(column) vs COUNT(*)
    distinction is load-bearing."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "groupingsets_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
    """,
)
def groupingsets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond rollup/cube) with GROUPING()
    markers disambiguating real NULLs from subtotal rows — one pass,
    Catalyst expands the sets before the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        """,
        li=li,
    )


@register(
    "timeseries_correlation",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS y
      FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / (sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE))
                * sqrt(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)))
             AS pearson_r
    FROM h
    """,
)
def timeseries_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series correlation (streaming time-series similarity family,
    PAPERS.md/EDBT 2019): hourly click vs purchase counts, Pearson r
    from exact integer moment sums — unlike `F.corr`, whose streaming
    update is merge-order-dependent, integer moments make the statistic
    bit-reproducible at any parallelism. Two map-side-combining
    aggregates; the second collapses to one row."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    m = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        F.col("n").alias("n_hours"),
        F.col("sx").alias("sum_x"),
        F.col("sy").alias("sum_y"),
        (num / (dx * dy)).alias("pearson_r"),
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 250
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a join aggregate — orders whose total
    line quantity exceeds a threshold. The post-aggregation filter runs
    on the already-collapsed groups, so it ships #orders rows, not
    #lineitems; AQE coalesces the (orderkey) shuffle both sides share."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.sum(money("l_quantity")).alias("_tq"))
        .filter(F.col("_tq") > 250)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
            F.col("_tq").cast("double").alias("total_qty"),
        )
    )


@register(
    "setops_all_variants",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_keys
    FROM (
      SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1999
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
    )
    """,
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-ops (INTERSECT ALL): duplicate-preserving semantics —
    a customer with 3 orders in 1999 and 2 in 2000 contributes
    min(3,2)=2 rows. Summarized to (count, checksum) so the oracle pins
    the multiset without shipping it."""
    o = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == y).select(
            F.col("o_custkey").alias("k")
        )

    both = year_keys(1999).intersectAll(year_keys(2000))
    return both.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("sum_keys"),
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair by year —
    a 6-table join with a disjunctive cross-nation predicate. Both
    nation joins broadcast; only the lineitem⋈orders edge shuffles.
    NOTE: each FACTOR is cast to decimal before the product (the q10/q1
    pattern) — rounding the double product instead hits half-way ties
    whose half-up vs binary rounding differs between engines (surfaced
    by the sf0.1 sweep; sf0.01 had no tie rows)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        j.select("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"), vol.alias("v"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("v").cast("double").alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    selective fact filter, two equi-joins, a broadcast dim, top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(money("l_extendedprice") * (1 - rate("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    GROUP BY ALL
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue
    share) over a month of shipments — part broadcasts, one fact pass,
    two exact decimal sums divided as doubles at the end."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = money("l_extendedprice") * (1 - rate("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            (100.0 * F.sum(promo).cast("double") / F.sum(disc).cast("double")).alias(
                "promo_pct"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_idle_customers",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                               / COUNT(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND year(o.o_orderdate) = 1995)
    GROUP BY c.c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers with no 1995 orders — a scalar
    aggregate subquery feeding the filter threshold, plus NOT EXISTS as
    a left-anti join. The scalar (one double) broadcasts; the anti join is
    key-only. The average is derived from an exact decimal sum so the
    threshold is partitioning-independent."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0)
    avg_bal = (
        pos.agg(
            (F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("t")
        )
    )
    rich = c.join(F.broadcast(avg_bal), c["c_acctbal"] > avg_bal["t"]).drop("t")
    o95 = o.filter(F.year("o_orderdate") == 1995)
    idle = rich.join(o95, rich["c_custkey"] == o95["o_custkey"], "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        dsum(money("c_acctbal"), "total_bal"),
    )


@register(
    "events_conversion_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'view') AS first_view,
             MIN(ts) FILTER (event_type = 'click') AS first_click,
             MIN(ts) FILTER (event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(first_view) AS BIGINT) AS viewed,
           CAST(COUNT(CASE WHEN first_click > first_view THEN 1 END) AS BIGINT)
             AS clicked_after_view,
           CAST(COUNT(CASE WHEN first_purchase > first_click
                        AND first_click > first_view THEN 1 END) AS BIGINT)
             AS purchased_after_click
    FROM stages
    """,
)
def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel analysis: per user, the first timestamp of each
    stage, then ordered-sequence counts (view → click → purchase). One
    user-keyed aggregate with conditional MINs (map-side combining),
    then a single-row re-aggregate — the product-analytics shape that at
    100 TB replaces per-user event sorting with two map-combinable
    aggregates."""
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_view").alias("viewed"),
        F.count(F.when(F.col("first_click") > F.col("first_view"), 1)).alias(
            "clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("first_purchase") > F.col("first_click"))
                & (F.col("first_click") > F.col("first_view")),
                1,
            )
        ).alias("purchased_after_click"),
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_week,
             CAST(datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT)
               AS weeks_since
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d %H:%M:%S.%f') AS cohort_week,
           weeks_since, CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity GROUP BY cohort_week, weeks_since
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted per weeks-since-cohort — the standard retention triangle.
    Two user-keyed aggregates (first-activity, then distinct activity
    weeks) and a broadcast of the per-user cohort assignment; no
    event-level shuffle survives past the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            ).cast("long").alias("weeks_since"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            ts_str("cohort_week").alias("cohort_week"),
            "weeks_since",
            "active_users",
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate-then-select-the-max — a derived relation
    consumed twice (once for the per-supplier revenue, once for its own
    max). The scalar max is a one-row broadcast, so the second pass is a
    map-side filter, not a self-join shuffle; the revenue aggregate itself
    is a single hash exchange on l_suppkey. Decimal accumulation keeps the
    double equality between the two consumers exact at any parallelism."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(money("l_extendedprice") * (1 - rate("l_discount")), "total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .orderBy("s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < 0.2 * a.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (revenue from orders
    far below the part's average order quantity), decorrelated by hand
    into a per-part aggregate joined back to the fact — exactly what
    Catalyst does to the subquery form, made explicit. Both the fact join
    and the aggregate shuffle on l_partkey, so AQE can reuse the exchange;
    the brand filter broadcasts. The 0.2x threshold comparison is double
    math from exact decimal sums — identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.sum(money("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    joined = (
        li.alias("l")
        .join(F.broadcast(p), F.col("l.l_partkey") == F.col("p_partkey"))
        .join(part_avg.alias("a"), F.col("l.l_partkey") == F.col("a.l_partkey"))
        .filter(F.col("l.l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return joined.agg(
        (F.sum(money("l.l_extendedprice")).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 16 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 31 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    distributes the disjunction: the part-only terms (brand OR'd with
    brand) and the lineitem-only quantity range union push below the
    join as partial filters, shrinking both sides before the equi-join;
    the residual mixed predicate evaluates post-join. The part side is
    a broadcast after its pushed filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(16, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(31, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            dsum(money("l_extendedprice") * (1 - rate("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q8_market_share",
    oracle="""
    WITH asia_volume AS (
      SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM asia_volume GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — a ratio of two conditional
    aggregates over a 6-way join. All dims (customer-side nation+region,
    supplier+nation) broadcast after their filters; the only shuffles are
    the orders-lineitem key exchange and the final tiny per-year
    aggregate. Both ratio operands accumulate in exact decimals, so the
    per-year division is bit-identical across engines and partitionings."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    asia_cust = (
        c.join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    vol = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(asia_cust), o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (money("l_extendedprice") * (1 - rate("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_year")
    )


@register(
    "q4_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, counted
    per priority (the fixture has no commit/receipt dates, so the
    "late line" predicate is l_shipdate > o_orderdate — same correlated
    mixed-column comparison). The semi join shuffles on orderkey and
    keeps at most one probe hit per order — no fan-out — and the final
    aggregate is five groups, collapsing map-side."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ANOM_TRAIL = 24  # trailing hours in the baseline window


@register(
    "events_rate_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT h, event_type, n,
             CAST(SUM(n) OVER w AS BIGINT) AS trail_sum,
             CAST(SUM(n * n) OVER w AS BIGINT) AS trail_sumsq,
             CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {ANOM_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           event_type, n, trail_sum, trail_n
    FROM stats
    WHERE trail_n >= 12
      AND (n * trail_n - trail_sum) > 0
      AND (n * trail_n - trail_sum) * (n * trail_n - trail_sum)
          > 9 * (trail_n * trail_sumsq - trail_sum * trail_sum)
    ORDER BY event_type, hour_start
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-spike detection: hourly event counts vs a trailing 24-hour
    baseline, flagging hours more than 3 sigma above the mean. The
    z-score test is algebraically cleared of division AND sqrt —
    (n·N − Σ)² > 9·(N·Σx² − Σ²) over integer window sums — so the whole
    detector is exact int64 arithmetic: no libm, no rounding, portable
    to the oracle bit-for-bit (DESIGN.md determinism rules). The same
    two-window plan is the streaming anomaly monitor's batch twin:
    per-key hourly aggregate (map-side collapse), then a bounded ROWS
    window per event_type — state is O(types x 24)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-ANOM_TRAIL, -1)
    )
    stats = hourly.select(
        "h",
        "event_type",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("trail_sumsq"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )
    dev = F.col("n") * F.col("trail_n") - F.col("trail_sum")
    var_n3 = F.col("trail_n") * F.col("trail_sumsq") - F.col("trail_sum") * F.col(
        "trail_sum"
    )
    return (
        stats.filter(
            (F.col("trail_n") >= 12) & (dev > 0) & (dev * dev > 9 * var_n3)
        )
        .select(
            ts_str("h").alias("hour_start"),
            "event_type",
            "n",
            "trail_sum",
            "trail_n",
        )
        .orderBy("event_type", "hour_start")
    )


@register(
    "events_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT g.h, t.event_type
      FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
            FROM bounds) g
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ),
    agg AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(grid.h, '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           grid.event_type,
           COALESCE(agg.n_events, 0) AS n_events,
           COALESCE(agg.total_value, 0.0) AS total_value
    FROM grid LEFT JOIN agg ON agg.h = grid.h AND agg.event_type = grid.event_type
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly time series: every (hour, event_type) cell of the
    dense grid spanning [min hour, max hour], zero-filled where no events
    landed — the standard densification step before time-series modelling
    (a rollup alone silently drops empty hours, which breaks lag/trailing
    windows downstream, cf. events_rate_anomaly).

    Scale shape: raw events are scanned ONCE — the (hour, type) rollup
    (map-side partial, one shuffle; same plan as events_hourly_rollup).
    Grid bounds and the type set are derived from that aggregated
    relation (hour-truncated min/max commute with the rollup), which is
    materialized via localCheckpoint so its three consumers (bounds,
    types, probe side of the join) do not each re-run the fact scan —
    Catalyst's exchange reuse cannot dedupe them because column pruning
    specializes each subtree. The dense grid is hours x types, tiny at
    ANY corpus size (10 years x 24x365 x a handful of types ~ 1e6
    rows), built from a 1-row bounds aggregate via sequence()/explode,
    so the final left join runs between the grid and the aggregate —
    never against raw events. The checkpoint is non-reliable on
    executor loss; a real pipeline persists the rollup table anyway
    (it IS events_hourly_rollup's output)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value").cast("decimal(18,2)"), "total_value"),
        )
        .localCheckpoint(eager=False)
    )
    bounds = agg.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = agg.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    return grid.join(
        agg, ["h", "event_type"], "left"
    ).select(
        ts_str("h").alias("hour_start"),
        "event_type",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "events_value_outliers",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
    d AS (
      SELECT e.event_id, e.event_type, e.value,
             abs(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, dev,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn2,
             COUNT(*) OVER (PARTITION BY event_type) AS n2
      FROM d
    ),
    mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2)
    SELECT d.event_id, d.event_type, d.value, d.med, mad.mad
    FROM d JOIN mad USING (event_type)
    WHERE d.dev > 3 * mad.mad
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from the
    per-type median by more than 3x the median absolute deviation (MAD)
    — the robust-statistics counterpart of the z-score detector
    (events_rate_anomaly), immune to the outliers it is hunting.

    Determinism: medians are SELECTED (lower median = the element at
    rank (n+1) div 2), never interpolated or accumulated, and the only
    float math is one IEEE subtraction/abs/compare per row — exact on
    both engines, no summation-order hazard (DESIGN.md float rules).

    Scale shape: exact MAD is inherently two ordered passes (median of
    values, then median of deviations). Each pass is a window
    partitioned by event_type — parallel across types; a single
    dominant type at 100 TB is the known exact-quantile limit, where
    the declared alternative is percentile_approx (approx_aggregates).
    The two tiny per-type median relations are BROADCAST back; the
    deviation relation feeds both the second median and the final
    filter, so it is materialized once (localCheckpoint locally, a
    persisted table in a real pipeline)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    wt = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wt.orderBy("value")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type", F.col("value").alias("med")
    )
    d = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
        .localCheckpoint(eager=False)
    )
    r2 = d.select(
        "event_type",
        "dev",
        F.row_number().over(wt.orderBy("dev")).alias("rn2"),
        F.count(F.lit(1)).over(wt).alias("n2"),
    )
    mad = r2.filter(F.col("rn2") == F.expr("(n2 + 1) DIV 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


# ---------------------------------------------------------------------------
# Table profiling: the one-pass data-quality report a pipeline runs on
# every new drop before anything downstream trusts it.

PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


@register(
    "table_profile",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   CAST(MIN({c}) AS DOUBLE) AS min_val,
                   CAST(MAX({c}) AS DOUBLE) AS max_val
            FROM lineitem"""
        for c in PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the fact table (row count, null count,
    exact distinct count, min/max) — the ingest-gate data-quality
    report. Min/max/counts for all columns ride ONE aggregate over one
    8-column scan; each exact distinct count runs as its own TWO-PHASE
    aggregate over a column-pruned single-column scan (pre-dedup, then
    count), unioned and joined back to the base stats on the 8-row
    column axis.

    Shape history (r12 optimization, VERDICT #7): the previous form put
    all 8 COUNT(DISTINCT)s in the one aggregate, which Spark plans via
    Expand — 9 output rows per input row through the partial aggregate.
    A/B at sf0.1 (OPTIMIZATION_r12.md work item 7, 2 interleaved
    rounds x best-of-4):
    Expand 2.03/2.27 s vs per-column two-phase 1.70/1.72 s (~25%
    faster; earlier same-day round: 1.50/1.63 vs 1.07/1.21 with the
    fact table checkpointed — rejected, holding an 8-column fact scan
    in executor storage is not a 100 TB posture). Bytes read at scale
    are comparable: Parquet column pruning makes the 8 single-column
    distinct scans together read each column once, vs the Expand plan's
    one 8-column scan plus a 9x-multiplied partial-aggregate. Exact
    distinct stays the contract (approx_aggregates is the approx twin);
    output rows are identical (A/B asserts set equality).

    At 100 TB the exact COUNT(DISTINCT) per column remains the
    expensive honest form; output is unpivoted to one row per column so
    the report shape is stable as columns are added."""
    li = load_table(spark, sf_dir, "lineitem")
    base_aggs = []
    for c in PROFILE_COLS:
        base_aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__min, {c}__max"
        for c in PROFILE_COLS
    )
    narrow = li.agg(*base_aggs).selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_null, min_val, max_val)"
    )
    dist = None
    for c in PROFILE_COLS:
        # isNotNull before the dedup: COUNT(DISTINCT c) skips NULLs
        d = (
            li.select(c)
            .where(F.col(c).isNotNull())
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
            .select(F.lit(c).alias("column_name"), "n_distinct")
        )
        dist = d if dist is None else dist.unionByName(d)
    return narrow.join(F.broadcast(dist), "column_name").select(
        "column_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val"
    )


# Histogram: equi-width buckets over the events value domain.
HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 500.0, 20


_HIST_BUCKET_SQL = (
    f"CASE WHEN value < {HIST_LO} THEN 0 "
    f"WHEN value >= {HIST_HI} THEN {HIST_BUCKETS} + 1 "
    f"ELSE CAST(FLOOR((value - {HIST_LO}) * {float(HIST_BUCKETS)} "
    f"/ ({HIST_HI} - {HIST_LO})) AS BIGINT) + 1 END"
)


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT {_HIST_BUCKET_SQL} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(value) AS DOUBLE) AS min_val,
           CAST(MAX(value) AS DOUBLE) AS max_val
    FROM events GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the event value distribution (the
    dashboard/monitoring primitive). The bucket index is a pure
    projection — the SQL-standard width_bucket rule, written out as the
    IDENTICAL expression in both engines (floor((v-lo)*n/(hi-lo))+1,
    under/overflow in buckets 0 and n+1) because DuckDB lacks the
    builtin and matching the operation ORDER keeps the one float
    expression bit-identical at bucket boundaries. The histogram is
    then one map-side-combined groupBy on <= n+2 keys: like
    pack_length_buckets, the final shuffle carries bytes per task, not
    data, at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.expr(_HIST_BUCKET_SQL).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("min_val"),
            F.max("value").cast("double").alias("max_val"),
        )
    )


# Skew diagnosis report size. The query reports the top keys with
# their share and x_uniform; the CALLER applies their job's cutoff
# (e.g. share > 1/(4 * shuffle partitions) — a key overfilling one
# reducer's fair share) — the report itself is unfiltered so the same
# probe serves jobs with different partition counts.
SKEW_TOP_K = 20


@register(
    "skew_key_profile",
    oracle=f"""
    WITH k AS (
      SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT)
                   AS n_keys FROM k)
    SELECT key, n,
           CAST(n AS DOUBLE) / total AS share,
           CAST(n AS DOUBLE) * n_keys / total AS x_uniform
    FROM k, t
    ORDER BY n DESC, key LIMIT {SKEW_TOP_K}
    """,
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle key: the top keys
    by row count, each with its share of the table and its multiple of
    the uniform expectation (x_uniform = n * n_keys / total; 1.0 =
    perfectly even). This is the DIAGNOSIS step that decides between a
    plain shuffle join, AQE skew split, and manual salting
    (rel_salted_skew_join) — at 100 TB you run this on a sample of the
    join key BEFORE burning a cluster-day on a join that funnels one
    key into one reducer.

    Scale shape: one map-side-combined groupBy on the key, a 1-row
    global total joined back (broadcast singleton), and a
    TakeOrderedAndProject top-k — per-partition heaps, never a global
    sort. The profile's own shuffle is the cheapest possible probe of
    the expensive join's shuffle."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy(F.col("user_id").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    t = k.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        k.crossJoin(t)
        .select(
            "key",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
            (F.col("n").cast("double") * F.col("n_keys") / F.col("total")).alias(
                "x_uniform"
            ),
        )
        .orderBy(F.desc("n"), "key")
        .limit(SKEW_TOP_K)
    )


# Count-Min sketch shape: d independent hash rows x w buckets. Error
# bound: est - exact <= total/w per row; min over d rows makes the
# overshoot probability (1/2)^d-ish. 4x1024 = 4 KB of counters for ANY
# key cardinality.
CM_DEPTH = 4
CM_WIDTH = 1024
CM_TOP_K = 20


def _cm_bucket_sql(i: int, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{i}|' || CAST({key} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {CM_WIDTH} AS BIGINT)"
    )


@register(
    "heavy_hitters_countmin",
    oracle=f"""
    WITH cells AS (
      SELECT i, {_cm_bucket_sql('i', 'user_id').replace("'i|'", "CAST(i AS VARCHAR) || '|'")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, (SELECT unnest(range(0, {CM_DEPTH})) AS i)
      GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    est AS (
      SELECT k.user_id AS key, MIN(c.n) AS est_count
      FROM keys k, (SELECT unnest(range(0, {CM_DEPTH})) AS i) d
      JOIN cells c
        ON c.i = d.i
       AND c.bucket = {_cm_bucket_sql('d.i', 'k.user_id').replace("'d.i|'", "CAST(d.i AS VARCHAR) || '|'")}
      GROUP BY k.user_id
    )
    SELECT key, est_count FROM est
    ORDER BY est_count DESC, key LIMIT {CM_TOP_K}
    """,
)
def heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a Count-Min sketch: the constant-memory
    complement of skew_key_profile. The sketch is {CM_DEPTH} hash rows x
    {CM_WIDTH} buckets — 4 KB of counters REGARDLESS of key cardinality
    — built in one pass with a map-side-combined groupBy on (row,
    bucket): at 100 TB this is how you bound heavy-hitter state when
    the key domain itself doesn't fit anywhere (IPs, URLs, session
    ids). Estimates (min over the key's {CM_DEPTH} cells) only ever
    OVER-count, so the sketch's top-k is a superset-biased view of the
    true top-k; the fixed-size cell table broadcasts to the estimate
    join for free.

    Deterministic md5 bucket hashing makes the whole sketch — cells and
    estimates — bit-identical in both engines, so even the approximate
    structure is oracle-checkable (the same trick as the minhash
    pipeline: engine-portable hashes instead of engine-private ones)."""
    def _cm_bucket_col(key):
        # ONE definition for cell building and probing: the sketch is
        # only correct if both sides hash identically, so the expression
        # exists exactly once (mirrors _cm_bucket_sql on the oracle side)
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"), F.lit("|"), key.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        )

    ev = load_table(spark, sf_dir, "events")
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(CM_DEPTH)])
    ).alias("i")
    bucket = _cm_bucket_col(F.col("user_id"))
    cells = (
        ev.select(F.col("user_id"), rows)
        .select("i", bucket.alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keys = ev.select("user_id").distinct()
    probes = keys.select(
        F.col("user_id").alias("key"), rows
    ).select("key", "i", _cm_bucket_col(F.col("key")).alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("key")
        .agg(F.min("n").alias("est_count"))
        .orderBy(F.desc("est_count"), "key")
        .limit(CM_TOP_K)
    )


# Binned quantile sketch: 1024 equi-width bins over the value domain.
# Mergeable (bin counts just add) and deterministic — the declarative
# analog of a fixed-universe quantile sketch; error <= one bin width.
QS_BINS = 1024
QS_QUANTILES = (0.5, 0.9, 0.99)


@register(
    "events_quantiles_binned",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR((value - {HIST_LO}) * {float(QS_BINS)}
                        / ({HIST_HI} - {HIST_LO})) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value >= {HIST_LO} AND value < {HIST_HI}
      GROUP BY 1
    ),
    c AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum,
             SUM(n) OVER () AS total
      FROM b
    )
    SELECT q,
           {HIST_LO} + CAST(MIN(CASE WHEN cum >= CAST(CEIL(q * total) AS BIGINT)
                         THEN bin END) + 1 AS DOUBLE)
             * ({HIST_HI} - {HIST_LO}) / {float(QS_BINS)} AS est_upper
    FROM c, (SELECT unnest([{', '.join(str(q) for q in QS_QUANTILES)}]) AS q)
    GROUP BY q
    """,
)
def events_quantiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed 1024-bin histogram — the
    mergeable-sketch quantile path (bin counts from different
    partitions/days just ADD, unlike exact sort-based quantiles), with
    deterministic error <= one bin width (~0.49 here). Each estimate is
    the upper edge of the first bin whose cumulative count reaches
    ceil(q*n).

    Scale shape: one map-side-combined groupBy onto <= 1024 keys (the
    same bytes-per-task shuffle as events_value_histogram), then a
    window over the 1024-row bin table — bounded state however large
    the corpus. This is the declared alternative to percentile_approx
    when cross-engine/bit-exact reproducibility matters: the sketch is
    pure integer counts + one float edge expression, identical in both
    engines, while GK/KLL sketches are engine-private. Exact
    counterpart: quantile_battery."""
    ev = load_table(spark, sf_dir, "events")
    bins = (
        ev.filter((F.col("value") >= HIST_LO) & (F.col("value") < HIST_HI))
        .groupBy(
            F.expr(
                f"CAST(FLOOR((value - {HIST_LO}) * {float(QS_BINS)}"
                f" / ({HIST_HI} - {HIST_LO})) AS BIGINT)"
            ).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = bins.select(
        "bin",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    qs = c.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(
                    F.array(*[F.lit(q) for q in QS_QUANTILES])
                ).alias("q")
            )
        )
    )
    return (
        qs.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(
            (
                F.lit(HIST_LO)
                + (F.min("bin") + 1).cast("double")
                * (HIST_HI - HIST_LO)
                / float(QS_BINS)
            ).alias("est_upper")
        )
    )


@register(
    "events_trend_regression",
    oracle="""
    WITH p AS (
      SELECT event_type,
             -- explicit FLOOR: DuckDB's // is NOT floor division on
             -- DOUBLE operands, and double->int CAST rounds
             CAST(FLOOR(epoch(ts) / 3600)
                  - FLOOR(epoch(TIMESTAMP '2024-01-01 00:00:00') / 3600)
                  AS BIGINT) AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx
      FROM p GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(n * sxy - sx * sy AS DECIMAL(38, 0)) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS DECIMAL(38, 0)) AS DOUBLE)
             AS slope_cents_per_hour
    FROM s
    """,
)
def events_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: OLS slope of event value over time
    for each event type — the 'is this metric drifting' primitive,
    computed ENTIRELY from five integer lattice sums (n, Σx, Σy, Σxy,
    Σx²) so the regression is one map-side-combined aggregate over one
    scan: the textbook reduction of an ML-ish fit to a groupBy.

    Determinism: x is whole hours since the fixture epoch, y is cents
    (both engines round value*100 half-up for positive values
    identically), so every sum is an exact integer; the slope's
    numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² are computed
    in 128-bit/decimal(38) integer space (they overflow int64 at
    ~100M rows — the reason for the widening), and the single
    double division at the end is one correctly-rounded IEEE op. At
    100 TB this is the same 5-sums-per-group shuffle as any aggregate;
    output cardinality = #groups."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "event_type",
        (
            F.floor(F.unix_timestamp("ts") / 3600)
            - F.floor(
                F.unix_timestamp(
                    F.lit("2024-01-01 00:00:00").cast("timestamp")
                )
                / 3600
            )
        ).cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    # widen the SUMMANDS, not the finished sum: a 64-bit Sum wraps
    # silently in non-ANSI mode before an outer cast could help, while
    # a decimal-typed summand makes Spark accumulate in decimal —
    # matching the oracle's 128-bit HUGEINT accumulation
    dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("decimal(38,0)").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_hour"
        ),
    )


# ---------------------------------------------------------------------------
# Round-5 TPC-H shape completion: the seven query shapes the battery did
# not yet exercise (Q2/Q9/Q11/Q12/Q16/Q20/Q21), adapted to the fixture
# schema (no partsupp / commitdate / shipmode columns — the SHAPE is the
# target: decorrelated scalar-min, multi-dim profit rollup, global-
# fraction HAVING, conditional counting, anti-join distinct-count,
# nested semi chain, straggler EXISTS/NOT-EXISTS).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    px AS (
      SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
      FROM lineitem l
      JOIN eu ON eu.s_suppkey = l.l_suppkey
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 15
    ),
    m AS (SELECT l_partkey, MIN(l_extendedprice) AS minp FROM px GROUP BY l_partkey)
    SELECT DISTINCT px.l_partkey AS p_partkey,
           eu.s_name, eu.s_acctbal, eu.n_name,
           px.l_extendedprice AS min_price
    FROM px
    JOIN m ON m.l_partkey = px.l_partkey AND px.l_extendedprice = m.minp
    JOIN eu ON eu.s_suppkey = px.l_suppkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part via a correlated
    scalar-MIN subquery, decorrelated the way every optimizer rewrites
    it — group the fact once for the per-part MIN, join the aggregate
    back on (key, value=min). The region/supplier dims broadcast; the
    min comparison is on the STORED double (no arithmetic), so
    cross-engine equality is bit-exact. At scale: two shuffles of the
    filtered fact (one agg, one join), both on l_partkey, so AQE reuses
    the exchange."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    li = load_table(spark, sf_dir, "lineitem")
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    px = (
        li.join(F.broadcast(eu.select("s_suppkey")), li["l_suppkey"] == eu["s_suppkey"])
        .join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == p["p_partkey"])
        .select("l_partkey", "l_suppkey", "l_extendedprice")
    )
    m = (
        px.groupBy("l_partkey")
        .agg(F.min("l_extendedprice").alias("minp"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    return (
        px.join(
            m,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("l_extendedprice") == F.col("minp")),
        )
        .join(F.broadcast(eu), F.col("l_suppkey") == eu["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "s_acctbal",
            "n_name",
            F.col("l_extendedprice").alias("min_price"),
        )
        .distinct()
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    - CAST(l.l_quantity AS DECIMAL(18,2))
                      * CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, EXTRACT(YEAR FROM l.l_shipdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and year.
    The fixture has no partsupp, so cost is a fixed retail fraction
    (exact decimal 0.1 — the profit stays lattice-exact). Both dims and
    the filtered part list broadcast; one shuffle total (the final
    (nation, year) aggregate, ~25 x 7 groups, map-side combined)."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = load_table(spark, sf_dir, "lineitem")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "n_name"
    )
    tenth = F.expr("CAST(0.1 AS DECIMAL(2,1))")
    amount = money("l_extendedprice") * (1 - rate("l_discount")) - money(
        "l_quantity"
    ) * money("p_retailprice") * tenth
    return (
        li.join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy("n_name", F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(dsum(amount, "profit"))
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    ),
    t AS (SELECT SUM(val) AS total, COUNT(*) AS cnt FROM v)
    SELECT v.l_partkey AS p_partkey, CAST(v.val AS DOUBLE) AS part_value
    FROM v, t
    WHERE v.val * t.cnt > 2 * t.total
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a FRACTION OF THE GLOBAL total.
    TPC-H's literal 0.0001/SF fraction bakes the scale factor into the
    query; the scale-invariant equivalent — value above 2x the MEAN part
    value, expressed as val*cnt > 2*total so the comparison stays in
    exact decimals (no division) — selects a stable slice at every SF.
    The global scalar comes back as a 1-row broadcast (cross join), the
    canonical plan for HAVING-against-total; the fraction test cannot be
    pushed down, but the per-part aggregate collapses map-side first."""
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("s_suppkey")
    v = (
        li.join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(money("l_extendedprice")).alias("val"))
    )
    t = v.agg(F.sum("val").alias("total"), F.count(F.lit(1)).alias("cnt"))
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("val") * F.col("cnt") > 2 * F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("val").cast("double").alias("part_value"),
        )
    )


@register(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counting over the
    orders-lineitem join (the fixture has no shipmode column, so
    returnflag carries the grouping role). The date filter pushes to the
    lineitem scan; the join shuffles on orderkey and the 3-group count
    collapses map-side."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q16_part_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 14, 23, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%77%'
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per part attribute with a
    NOT-IN supplier exclusion — planned as a broadcast ANTI join (the
    excluded set is a filtered dim), then a distinct count per
    3-attribute group. distinct-count shuffles (partkey-grouped partial
    distinct first under Expand), which is the exact cluster plan."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 14, 23, 45))
    s_bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%77%")
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s_bad), li["l_suppkey"] == s_bad["s_suppkey"], "left_anti")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q20_bulk_suppliers",
    oracle="""
    WITH sold AS (
      SELECT l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
      )
      GROUP BY l.l_suppkey
    )
    SELECT s.s_name, s.s_acctbal, CAST(sold.qty AS DOUBLE) AS red_qty
    FROM supplier s
    JOIN sold ON sold.l_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA' AND sold.qty > 100
    """,
)
def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested-IN chain — part-name filter feeds a
    LEFT SEMI into the fact, the per-supplier aggregate feeds a HAVING,
    and the surviving supplier keys join back to the dim. Every IN is a
    broadcast semi join; the only fact shuffle is the supplier
    aggregate."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    sold = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            li["l_partkey"] == p["p_partkey"],
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum(money("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 100)
    )
    asia = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    return sold.join(F.broadcast(asia), sold["l_suppkey"] == asia["s_suppkey"]).select(
        "s_name", "s_acctbal", F.col("qty").cast("double").alias("red_qty")
    )


@register(
    "q21_straggler_suppliers",
    oracle="""
    WITH o AS (
      SELECT l_orderkey,
             MAX(l_shipdate) AS max_ship,
             COUNT(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY l_orderkey
    ),
    straggler AS (
      SELECT l.l_orderkey,
             MIN(l.l_suppkey) AS supp,
             COUNT(DISTINCT l.l_suppkey) AS n_at_max
      FROM lineitem l JOIN o ON o.l_orderkey = l.l_orderkey
        AND l.l_shipdate = o.max_ship
      WHERE o.n_supp >= 2
      GROUP BY l.l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM straggler g
    JOIN supplier s ON s.s_suppkey = g.supp
    WHERE g.n_at_max = 1
    GROUP BY s.s_name
    """,
)
def q21_straggler_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting
    — EXISTS another supplier in the order (n_supp >= 2), NOT EXISTS a
    later-shipping line by anyone else (unique latest shipper). The
    fixture lacks commit/receipt dates, so lateness = shipping last,
    strictly (ties disqualify — n_at_max = 1 IS the NOT EXISTS). The
    order-level aggregate collapses to orders-cardinality (far below
    the line count), so AQE broadcasts it back onto the fact locally
    (the measured plan: two BroadcastHashJoins, zero sort-merge); at a
    scale where it outgrows the broadcast threshold the same plan
    degrades to an orderkey-co-partitioned hash join — either way the
    fact never self-joins at line granularity."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # Collapse to one row per (order, supplier) FIRST: every downstream
    # count-distinct becomes a plain count (no Expand doubling the
    # aggregate input) and the max-ship join probes supplier-level rows,
    # not raw lines — the sweep measured this the steepest new path
    # (0.58 exp/decade) in its count_distinct form.
    # per_supp feeds BOTH the order-level rollup and the max-ship probe
    # side; a checkpoint here measured SLOWER (r11 A/B best-of-6:
    # 1.17 -> 1.50 s) — the (order, supplier) relation is the query's
    # biggest intermediate and materializing it costs more than the
    # cheap, fully-parallel scan+partial-agg rebuild (the
    # text_vocab_growth lesson). Left as the two-build recompute.
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    o = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.max("s_max").alias("max_ship"),
            F.count(F.lit(1)).alias("n_supp"),
        )
        .withColumnRenamed("l_orderkey", "o_key")
    )
    straggler = (
        per_supp.join(
            o.filter(F.col("n_supp") >= 2),
            (F.col("l_orderkey") == F.col("o_key"))
            & (F.col("s_max") == F.col("max_ship")),
        )
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("supp"),
            F.count(F.lit(1)).alias("n_at_max"),
        )
        .filter(F.col("n_at_max") == 1)
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        straggler.join(F.broadcast(s), straggler["supp"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog with EXPLICIT registers — the mergeable-sketch twin of
# heavy_hitters_countmin. Spark's approx_count_distinct is engine-
# private (its sketch bytes can't be oracle-checked); this builds the
# same structure from public primitives, bit-exactly reproducible in
# both engines: 60-bit md5 hash -> top-8 bits pick one of m=256
# registers, rank = leading-zero count of the low 52 bits (via bin()
# string length — no floats), register = MAX rank. The estimate's
# denominator sum(2^-r) is kept on an INTEGER lattice (sum of
# 2^(53-r) <= 256*2^53 < int64 max), so the only float ops are the
# final alpha*m^2*2^53/S expression — identical IEEE ops in identical
# order in both engines.
# ---------------------------------------------------------------------------

HLL_M = 256          # registers (b = 8 index bits)
HLL_WBITS = 52       # rank window: 60-bit hash minus 8 index bits
_HLL_ALPHA = "(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))"  # alpha_256 in forced-
                                                  # DOUBLE literals (bare
                                                  # decimals parse as DECIMAL
                                                  # in both engines, with
                                                  # different scale rules)


@shared
def type_user_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized distinct (event_type, user_id) relation (optimization
    r11, the candidate_edges_df pattern): FOUR sketch queries
    (approx_distinct_hll, approx_distinct_hll_merged, approx_overlap_hll,
    approx_kmv_theta_sketch) each re-scanned events and re-ran the same
    distinct-pair shuffle; they now share one build behind a lazy
    localCheckpoint. Value-identical input for all of them: duplicate
    events cannot move a register MAX, a KMV order statistic, or a
    distinct count. Materialization strategy: SNACKFS_MEMO_MATERIALIZE
    (r11 VERDICT #3 — "local" default, "reliable"/"none" on a cluster
    where user-proportional state must survive executor loss)."""
    ev = load_table(spark, sf_dir, "events")
    return materialize_shared(
        ev.select("event_type", "user_id").distinct(), spark
    )


def _hll_registers(df: DataFrame, *keys: str) -> DataFrame:
    """HLL registers of ``df``'s user_id per ``keys``: (keys, bucket, reg).
    The 60-bit md5_fp splits into an 8-bit bucket and a HLL_WBITS rank
    window; a register is the MAX rank (leading zeros + 1) in its bucket."""
    v = md5_fp(F.col("user_id").cast("string"))
    w = F.col("v").bitwiseAND(F.lit((1 << HLL_WBITS) - 1))
    r = F.when(w > 0, F.lit(HLL_WBITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(HLL_WBITS + 1)
    )
    return (
        df.select(*keys, v.alias("v"))
        .select(*keys, F.shiftright(F.col("v"), HLL_WBITS).alias("bucket"), r.alias("r"))
        .groupBy(*keys, "bucket")
        .agg(F.max("r").alias("reg"))
    )


@shared
def hll_type_regs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per-(event_type, bucket) HLL register relation (MAX
    rank per register, <= |types| x m rows) built from
    type_user_pairs_df — the identical expression approx_distinct_hll,
    approx_distinct_hll_merged and approx_overlap_hll each re-derived
    per call."""
    pairs = type_user_pairs_df(spark, sf_dir)
    return _hll_registers(pairs, "event_type").localCheckpoint(eager=False)


@register(
    "approx_distinct_hll",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
      FROM events
    ),
    ranks AS (
      SELECT event_type,
             v >> {HLL_WBITS} AS bucket,
             CASE WHEN (v & {(1 << HLL_WBITS) - 1}) > 0
                  THEN {HLL_WBITS + 1} - length(bin(v & {(1 << HLL_WBITS) - 1}))
                  ELSE {HLL_WBITS + 1} END AS r
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket, MAX(r) AS reg
      FROM ranks GROUP BY event_type, bucket
    ),
    sk AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_used,
             CAST(SUM(1::BIGINT << ({HLL_WBITS + 1} - reg)) AS BIGINT)
               AS used_lattice
      FROM regs GROUP BY event_type
    ),
    x AS (
      SELECT event_type, n_used,
             used_lattice
               + ({HLL_M} - n_used) * (1::BIGINT << {HLL_WBITS + 1}) AS s
      FROM sk
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT x.event_type,
           CAST({HLL_M} - x.n_used AS BIGINT) AS n_empty,
           x.s AS lattice_sum,
           ({_HLL_ALPHA} * {HLL_M * HLL_M}e0)
             * {1 << (HLL_WBITS + 1)}e0 / CAST(x.s AS DOUBLE)
             AS raw_estimate,
           ex.exact_distinct
    FROM x JOIN ex ON ex.event_type = x.event_type
    """,
)
def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog distinct-count sketch with explicit,
    MERGEABLE registers (merge = elementwise MAX — the same algebra
    that lets map-side partial aggregation build this sketch with one
    shuffle of <= m rows per group at any corpus size). No corrections
    are applied (linear counting needs ln); the raw estimate plus the
    empty-register count lets any consumer apply them — and the exact
    distinct rides along as the quality reference. The whole pipeline
    is integer arithmetic until one final float expression, so the
    driver hash-checks a FLOAT estimate across engines — the property
    approx_count_distinct's private sketch can never offer."""
    # ONE shared events scan (the type_user_pairs_df / hll_type_regs_df
    # memos): the register build reads the memoized (type, bucket, reg)
    # relation (duplicate events cannot move a register MAX, so md5 is
    # computed once per distinct user, not per event) and the exact
    # reference is a plain COUNT over the shared distinct pairs — the
    # old shape re-scanned events for a two-phase count_distinct.
    pairs = type_user_pairs_df(spark, sf_dir)
    regs = hll_type_regs_df(spark, sf_dir)
    sk = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.expr(f"shiftleft(1L, CAST({HLL_WBITS + 1} - reg AS INT))")).alias(
            "used_lattice"
        ),
    )
    x = sk.select(
        "event_type",
        "n_used",
        (
            F.col("used_lattice")
            + (F.lit(HLL_M) - F.col("n_used")) * F.lit(1 << (HLL_WBITS + 1))
        ).alias("s"),
    )
    # count("user_id") not count(*): the oracle's COUNT(DISTINCT user_id)
    # skips NULLs, and the distinct-pairs relation would carry a
    # (type, NULL) row if the fixture ever grew one (r11 ADVICE —
    # null-safe equivalence, fixtures currently NULL-free either way).
    ex = pairs.groupBy("event_type").agg(
        F.count("user_id").cast("long").alias("exact_distinct")
    )
    est = F.expr(
        f"({_HLL_ALPHA} * {HLL_M * HLL_M}e0)"
        f" * {1 << (HLL_WBITS + 1)}e0 / CAST(s AS DOUBLE)"
    )
    return (
        x.join(ex, "event_type")
        .select(
            "event_type",
            (F.lit(HLL_M) - F.col("n_used")).cast("long").alias("n_empty"),
            F.col("s").alias("lattice_sum"),
            est.alias("raw_estimate"),
            "exact_distinct",
        )
    )


@register(
    "approx_distinct_hll_merged",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
      FROM events
    ),
    ranks AS (
      SELECT event_type,
             v >> {HLL_WBITS} AS bucket,
             CASE WHEN (v & {(1 << HLL_WBITS) - 1}) > 0
                  THEN {HLL_WBITS + 1} - length(bin(v & {(1 << HLL_WBITS) - 1}))
                  ELSE {HLL_WBITS + 1} END AS r
      FROM h
    ),
    per_group AS (
      SELECT event_type, bucket, MAX(r) AS reg
      FROM ranks GROUP BY event_type, bucket
    ),
    merged AS (
      SELECT bucket, MAX(reg) AS reg FROM per_group GROUP BY bucket
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
             CAST(SUM(1::BIGINT << ({HLL_WBITS + 1} - reg)) AS BIGINT)
               AS used_lattice
      FROM merged
    )
    SELECT CAST({HLL_M} - n_used AS BIGINT) AS n_empty,
           used_lattice
             + ({HLL_M} - n_used) * (1::BIGINT << {HLL_WBITS + 1}) AS lattice_sum,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
             AS exact_distinct
    FROM s
    """,
)
def approx_distinct_hll_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE path, pinned end-to-end: per-group sketches union into
    one global sketch by elementwise register MAX — the property that
    makes HLL shippable (each partition/day/source keeps m registers;
    the global count is a MAX-merge away, no rescan). The merged
    sketch's lattice sum is hash-checked against an independent
    derivation, alongside the global exact count."""
    # ONE shared events scan (the approx_distinct_hll memos): the
    # per-group registers and the global exact count both derive from
    # the shared relations — the distinct-user reduction runs over the
    # already-deduplicated pair relation, never the raw fact twice.
    pairs = type_user_pairs_df(spark, sf_dir)
    per_group = hll_type_regs_df(spark, sf_dir)
    merged = per_group.groupBy("bucket").agg(F.max("reg").alias("reg"))
    s = merged.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.expr(f"shiftleft(1L, CAST({HLL_WBITS + 1} - reg AS INT))")).alias(
            "used_lattice"
        ),
    )
    exact = pairs.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return s.crossJoin(exact).select(
        (F.lit(HLL_M) - F.col("n_used")).cast("long").alias("n_empty"),
        (
            F.col("used_lattice")
            + (F.lit(HLL_M) - F.col("n_used")) * F.lit(1 << (HLL_WBITS + 1))
        ).alias("lattice_sum"),
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# Winsorized (clipped) robust statistics, COMPOSED from the mergeable
# binned-quantile sketch: per-group p05/p95 thresholds come from the
# 1024-bin histogram (bin edges are dyadic rationals — 500/1024 =
# 0.48828125 exactly — so the thresholds are bit-identical floats in
# both engines), and the clipped mean accumulates on a x25600 integer
# lattice (100 for the 2-decimal values x 256 for the dyadic edges), so
# the only float ops are the shared threshold expression and one final
# division. The outlier-robust per-group mean every metrics pipeline
# wants, with none of percentile_approx's engine-private sketch.
# ---------------------------------------------------------------------------

WINSOR_LO_Q = 0.05
WINSOR_HI_Q = 0.95
_WINSOR_EDGE = "(CAST(bin + 1 AS DOUBLE) * (500e0 / 1024e0))"


@register(
    "events_winsorized_stats",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(FLOOR(value * 1024e0 / 500e0) AS BIGINT) AS bin,
             COUNT(*) AS n
      FROM events WHERE value >= 0 AND value < 500
      GROUP BY event_type, CAST(FLOOR(value * 1024e0 / 500e0) AS BIGINT)
    ),
    c AS (
      SELECT event_type, bin,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM b
    ),
    thr AS (
      SELECT event_type,
             MIN(CASE WHEN cum >= CEIL({WINSOR_LO_Q} * total)
                      THEN {_WINSOR_EDGE} END) AS lo_thr,
             MIN(CASE WHEN cum >= CEIL({WINSOR_HI_Q} * total)
                      THEN {_WINSOR_EDGE} END) AS hi_thr
      FROM c GROUP BY event_type
    )
    SELECT e.event_type,
           thr.lo_thr, thr.hi_thr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.value < thr.lo_thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(SUM(CASE WHEN e.value > thr.hi_thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           CAST(SUM(CAST(ROUND(LEAST(GREATEST(e.value, thr.lo_thr), thr.hi_thr)
                               * 25600e0) AS BIGINT)) AS DOUBLE)
             / (25600e0 * COUNT(*)) AS winsorized_mean
    FROM events e JOIN thr ON thr.event_type = e.event_type
    GROUP BY e.event_type, thr.lo_thr, thr.hi_thr
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean: clip every value to the group's
    [p05, p95] (thresholds from the mergeable 1024-bin sketch — bounded
    state at any corpus size, bin-width-deterministic error) and average
    the clipped values on an integer lattice. Two scans of the fact
    (one to build the tiny histogram, one to clip) with the per-group
    thresholds broadcast between them — the exact two-pass shape a
    robust-metrics job runs at 100 TB, where a sort-based exact
    percentile would be a corpus-wide shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bins = (
        ev.filter((F.col("value") >= 0) & (F.col("value") < 500))
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(value * 1024e0 / 500e0) AS BIGINT)").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    wcum = W.partitionBy("event_type").orderBy("bin").rowsBetween(
        W.unboundedPreceding, 0
    )
    c = bins.select(
        "event_type",
        "bin",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(W.partitionBy("event_type")).alias("total"),
    )
    edge = F.expr(_WINSOR_EDGE)
    thr = c.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(WINSOR_LO_Q) * F.col("total")), edge)
        ).alias("lo_thr"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(WINSOR_HI_Q) * F.col("total")), edge)
        ).alias("hi_thr"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo_thr")), F.col("hi_thr"))
    lat = F.expr(
        "CAST(ROUND(LEAST(GREATEST(value, lo_thr), hi_thr) * 25600e0) AS BIGINT)"
    )
    return (
        ev.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "lo_thr", "hi_thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo_thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("value") > F.col("hi_thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
            (F.sum(lat).cast("double") / (F.lit(25600.0) * F.count(F.lit(1)))).alias(
                "winsorized_mean"
            ),
        )
        .select(
            "event_type", "lo_thr", "hi_thr", "n", "n_clipped_lo", "n_clipped_hi",
            "winsorized_mean",
        )
    )


# ---------------------------------------------------------------------------
# Declarative data-quality rule battery (the Deequ-style validation
# pass a pipeline runs before promoting a snapshot): null checks, range
# checks, key uniqueness, and referential integrity — each rule one
# aggregate (or one anti-join count), unioned into a single report.
# ---------------------------------------------------------------------------


@register(
    "dq_check_battery",
    oracle="""
    SELECT 'customer.c_acctbal_not_null' AS rule, 'customer' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM customer
    UNION ALL
    SELECT 'lineitem.l_quantity_positive', 'lineitem',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_discount_in_unit_range', 'lineitem',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders.o_custkey_ri_customer', 'orders',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'documents.doc_id_unique', 'documents',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'events.ts_not_null', 'events',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    """,
)
def dq_check_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality validation report: every rule collapses to one
    map-side-combined aggregate over its table (nulls, ranges,
    uniqueness) or one broadcast ANTI-join count (referential
    integrity), unioned into a 6-row report. At 100 TB each table is
    scanned exactly once per rule group and nothing but counts ever
    shuffles — the shape Deequ/Great-Expectations-class checkers
    compile to. A snapshot promotes only when n_violations = 0 for
    every gating rule."""
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")

    def report(rule: str, table: str, checked, violations) -> DataFrame:
        return checked.select(
            F.lit(rule).alias("rule"),
            F.lit(table).alias("table_name"),
            F.col("n_checked").cast("long"),
            violations.cast("long").alias("n_violations"),
        )

    r1 = cust.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)).alias("v"),
    ).select(
        F.lit("customer.c_acctbal_not_null").alias("rule"),
        F.lit("customer").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
    )
    r2 = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v"),
    ).select(
        F.lit("lineitem.l_quantity_positive").alias("rule"),
        F.lit("lineitem").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
    )
    r3 = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("v"),
    ).select(
        F.lit("lineitem.l_discount_in_unit_range").alias("rule"),
        F.lit("lineitem").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
    )
    orphans = orders.join(
        F.broadcast(cust.select("c_custkey")),
        orders["o_custkey"] == cust["c_custkey"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("v"))
    r4 = (
        orders.agg(F.count(F.lit(1)).alias("n_checked"))
        .crossJoin(orphans)
        .select(
            F.lit("orders.o_custkey_ri_customer").alias("rule"),
            F.lit("orders").alias("table_name"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col("v").cast("long").alias("n_violations"),
        )
    )
    r5 = docs.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id")).alias("v"),
    ).select(
        F.lit("documents.doc_id_unique").alias("rule"),
        F.lit("documents").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
    )
    r6 = ev.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("v"),
    ).select(
        F.lit("events.ts_not_null").alias("rule"),
        F.lit("events").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5).unionAll(r6)


# ------------------------------------------------------- privacy audit ----
#
# k-anonymity: a released/training dataset is k-anonymous when every
# combination of quasi-identifier values (attributes that re-identify a
# person when joined against an external source) is shared by at least
# k rows. The audit reports the k-class distribution — how many QI
# groups exist at each group size and how many rows sit in groups below
# the threshold — which is the go/no-go number a privacy review reads
# before a corpus ships. Companion to the direct-identifier scrubbers
# (events_pii_scan, text_redact): those remove identifiers, this
# measures the re-identification risk that REMAINS in the quasis.

K_ANON_THRESHOLD = 5
# acctbal bands of 1000.00: two-decimal money -> exact cents via the
# shared half-even rounding rule, shifted by +100000 cents so the band
# division never sees a negative operand (Spark `div` truncates toward
# zero, DuckDB `//` floors — they agree only on non-negative inputs).
_ACCTBAL_BAND_SQL = (
    "(CAST(round_even(c_acctbal * 100, 0) AS BIGINT) + 100000) // 100000"
)
_ACCTBAL_BAND_SPARK = (
    "(CAST(bround(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"
)


@register(
    "privacy_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             {_ACCTBAL_BAND_SQL} AS acctbal_band,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT k AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           k < {K_ANON_THRESHOLD} AS at_risk
    FROM qi GROUP BY k
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table with quasi-identifiers
    (nation, market segment, account-balance band): the distribution of
    QI group sizes, flagging every group below the k threshold. Rows in at_risk
    groups are the re-identifiable population a release must generalize
    or suppress first.

    Scale: one scan, one map-side-combined aggregate at QI cardinality
    (bounded: |nations| x |segments| x |bands| regardless of row
    count), then a second aggregate over that bounded relation onto
    <= max(k) keys. Nothing row-proportional ever shuffles, so the
    audit costs a scan at any table size."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.expr(_ACCTBAL_BAND_SPARK).alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    return qi.groupBy(F.col("k").alias("group_size")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k").cast("long").alias("n_rows"),
    ).select(
        "group_size",
        "n_groups",
        "n_rows",
        (F.col("group_size") < K_ANON_THRESHOLD).alias("at_risk"),
    )


L_DIVERSITY_THRESHOLD = 3


@register(
    "privacy_l_diversity",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT {_ACCTBAL_BAND_SQL}) AS BIGINT) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT l AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           l < {L_DIVERSITY_THRESHOLD} AS at_risk
    FROM cls GROUP BY l
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the attribute-disclosure companion to
    privacy_k_anonymity: with QI = (nation, segment) and the account-
    balance band as the SENSITIVE attribute, a class where every member
    shares one band leaks the balance even when k is large — the
    classic homogeneity attack k-anonymity alone misses. Reports the
    distribution of per-class distinct-sensitive counts and flags
    classes below l=3.

    Scale: identical posture to the k audit — one scan collapsing
    map-side onto |nations| x |segments| classes (the count-distinct
    runs at that bounded cardinality), then a second aggregate over the
    bounded relation. Nothing row-proportional shuffles."""
    cust = load_table(spark, sf_dir, "customer")
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(F.expr(_ACCTBAL_BAND_SPARK)).alias("l"),
    )
    return (
        cls.groupBy(F.col("l").alias("l_distinct"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
        )
        .select(
            "l_distinct",
            "n_groups",
            "n_rows",
            (F.col("l_distinct") < L_DIVERSITY_THRESHOLD).alias("at_risk"),
        )
    )


@register(
    "join_size_estimate_cm",
    oracle=f"""
    WITH a AS (
      SELECT i, {_cm_bucket_sql('i', 'user_id').replace("'i|'", "CAST(i AS VARCHAR) || '|'")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, (SELECT unnest(range(0, {CM_DEPTH})) AS i)
      GROUP BY 1, 2
    ),
    b AS (
      SELECT i, {_cm_bucket_sql('i', 'o_custkey').replace("'i|'", "CAST(i AS VARCHAR) || '|'")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders, (SELECT unnest(range(0, {CM_DEPTH})) AS i)
      GROUP BY 1, 2
    ),
    dots AS (
      SELECT a.i, CAST(SUM(a.n * b.n) AS BIGINT) AS dot
      FROM a JOIN b ON b.i = a.i AND b.bucket = a.bucket
      GROUP BY a.i
    )
    SELECT CAST(MIN(dot) AS BIGINT) AS cm_estimate,
           CAST((SELECT COUNT(*) FROM events e
                 JOIN orders o ON o.o_custkey = e.user_id) AS BIGINT)
             AS exact_join_size
    FROM dots
    """,
)
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketch INNER PRODUCTS
    — the optimizer-statistics primitive: |A join B on k| = sum_k
    a_k*b_k, estimated as min over depths of the sketch-row dot product
    (always an OVER-estimate, like the point estimates). Each side
    collapses to a {CM_DEPTH}x{CM_WIDTH} counter table in ONE pass —
    at 100 TB you estimate a petabyte join's size by dotting two 4 KB
    sketches built map-side, without touching the join itself. The
    exact join count rides along as the quality reference, and the md5
    bucket hashing makes the whole estimate bit-identical in both
    engines."""
    def cells(df: DataFrame, key: str) -> DataFrame:
        d = df.select(
            F.col(key).alias("k"),
            F.explode(F.array(*[F.lit(i) for i in range(CM_DEPTH)])).alias("i"),
        )
        bucket = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"), F.lit("|"), F.col("k").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        )
        return d.groupBy("i", bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n")
        )
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    a = cells(ev, "user_id")
    b = cells(orders, "o_custkey").select(
        F.col("i").alias("bi"), F.col("bucket").alias("bb"), F.col("n").alias("bn")
    )
    dots = (
        a.join(b, (F.col("i") == F.col("bi")) & (F.col("bucket") == F.col("bb")))
        .groupBy("i")
        .agg(F.sum(F.col("n") * F.col("bn")).alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("long").alias("cm_estimate"))
    exact = (
        ev.join(orders, ev["user_id"] == orders["o_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(exact)


# ---------------------------------------------------------- drift monitor ----
#
# Distribution-drift monitoring: the production guard that catches a
# source changing under the pipeline (schema'd the same, distributed
# differently). Drift score = total-variation distance between each
# week's value histogram and that event type's FIRST week, computed as
# an exact integer lattice: TV = sum_i |o_i*Nb - b_i*Nw| / (2*Nw*Nb),
# where the numerator is a sum of INTEGERS (bit-identical in any
# engine, any partitioning) and only the final normalization divides.
# PSI/KL need log() — libm territory, banned from hash-checked paths
# (DESIGN.md float rules); TV is the log-free drift metric with the
# same monotone "bigger = more drift" contract.

DRIFT_EPOCH = "2024-01-01"  # week 0 anchor (events fixture range)
_WEEK_SQL = f"date_diff('day', DATE '{DRIFT_EPOCH}', CAST(ts AS DATE)) // 7"
_WEEK_SPARK = f"(datediff(CAST(ts AS DATE), DATE'{DRIFT_EPOCH}') div 7)"


@register(
    "events_drift_tv",
    oracle=f"""
    WITH o AS (
      SELECT event_type, CAST({_WEEK_SQL} AS BIGINT) AS week,
             {_HIST_BUCKET_SQL} AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    b AS (SELECT event_type, bucket, n AS bn FROM o WHERE week = 0),
    weeks AS (SELECT event_type, week, CAST(SUM(n) AS BIGINT) AS nw FROM o GROUP BY 1, 2),
    base_tot AS (SELECT event_type, CAST(SUM(bn) AS BIGINT) AS nb FROM b GROUP BY 1),
    allb AS (
      SELECT DISTINCT event_type, bucket FROM o
      UNION SELECT event_type, bucket FROM b
    ),
    grid AS (
      SELECT a.event_type, w.week, a.bucket, w.nw, bt.nb,
             COALESCE(oo.n, 0) AS o_n, COALESCE(bb.bn, 0) AS b_n
      FROM allb a
      JOIN weeks w ON w.event_type = a.event_type
      JOIN base_tot bt ON bt.event_type = a.event_type
      LEFT JOIN o oo ON oo.event_type = a.event_type AND oo.week = w.week AND oo.bucket = a.bucket
      LEFT JOIN b bb ON bb.event_type = a.event_type AND bb.bucket = a.bucket
    )
    SELECT event_type, week,
           CAST(MAX(nw) AS BIGINT) AS n_events,
           CAST(SUM(abs(o_n * nb - b_n * nw)) AS BIGINT) AS tv_numer,
           CAST(SUM(abs(o_n * nb - b_n * nw)) AS DOUBLE)
             / (2.0e0 * MAX(nw) * MAX(nb)) AS tv_distance
    FROM grid GROUP BY event_type, week
    """,
)
def events_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly value-distribution drift per event type: exact
    total-variation distance against that type's week-0 histogram.
    ONE scan builds the (type, week, bucket) counts; everything after is
    arithmetic over <= types x weeks x 22 bucket rows — at 100 TB the
    monitor costs one histogram pass, and the integer TV numerator makes
    the score bit-reproducible for alerting thresholds."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.groupBy(
        "event_type",
        F.expr(_WEEK_SPARK).cast("long").alias("week"),
        F.expr(_HIST_BUCKET_SQL).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    o = o.localCheckpoint(eager=False)
    b = o.filter(F.col("week") == 0).select("event_type", "bucket", F.col("n").alias("bn"))
    weeks = o.groupBy("event_type", "week").agg(F.sum("n").cast("long").alias("nw"))
    base_tot = b.groupBy("event_type").agg(F.sum("bn").cast("long").alias("nb"))
    allb = (
        o.select("event_type", "bucket")
        .unionByName(b.select("event_type", "bucket"))
        .distinct()
    )
    grid = (
        allb.join(weeks, "event_type")
        .join(base_tot, "event_type")
        .join(o.select("event_type", "week", "bucket", "n"), ["event_type", "week", "bucket"], "left")
        .join(b, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "week",
            "nw",
            "nb",
            F.coalesce(F.col("n"), F.lit(0)).alias("o_n"),
            F.coalesce(F.col("bn"), F.lit(0)).alias("b_n"),
        )
    )
    lattice = F.abs(F.col("o_n") * F.col("nb") - F.col("b_n") * F.col("nw"))
    return grid.groupBy("event_type", "week").agg(
        F.max("nw").cast("long").alias("n_events"),
        F.sum(lattice).cast("long").alias("tv_numer"),
        (
            F.sum(lattice).cast("double")
            / (F.lit(2.0) * F.max("nw") * F.max("nb"))
        ).alias("tv_distance"),
    )


@register(
    "approx_overlap_hll",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
      FROM events
    ),
    ranks AS (
      SELECT event_type,
             v >> {HLL_WBITS} AS bucket,
             CASE WHEN (v & {(1 << HLL_WBITS) - 1}) > 0
                  THEN {HLL_WBITS + 1} - length(bin(v & {(1 << HLL_WBITS) - 1}))
                  ELSE {HLL_WBITS + 1} END AS r
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket, MAX(r) AS reg
      FROM ranks GROUP BY event_type, bucket
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
    ),
    union_regs AS (
      SELECT p.ta, p.tb, r.bucket, MAX(r.reg) AS reg
      FROM pairs p JOIN regs r ON r.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, r.bucket
    ),
    lat AS (
      SELECT event_type,
             CAST(SUM(1::BIGINT << ({HLL_WBITS + 1} - reg)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_WBITS + 1}) AS s
      FROM regs GROUP BY event_type
    ),
    ulat AS (
      SELECT ta, tb,
             CAST(SUM(1::BIGINT << ({HLL_WBITS + 1} - reg)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_WBITS + 1}) AS s
      FROM union_regs GROUP BY ta, tb
    ),
    ex AS (
      SELECT p.ta, p.tb, CAST(COUNT(*) AS BIGINT) AS exact_overlap
      FROM pairs p
      JOIN (SELECT DISTINCT event_type, user_id FROM events) ua ON ua.event_type = p.ta
      JOIN (SELECT DISTINCT event_type, user_id FROM events) ub
        ON ub.event_type = p.tb AND ub.user_id = ua.user_id
      GROUP BY p.ta, p.tb
    )
    SELECT u.ta AS type_a, u.tb AS type_b,
           u.s AS union_lattice,
           ({_HLL_ALPHA} * {HLL_M * HLL_M}e0) * {1 << (HLL_WBITS + 1)}e0
             / CAST(la.s AS DOUBLE)
           + ({_HLL_ALPHA} * {HLL_M * HLL_M}e0) * {1 << (HLL_WBITS + 1)}e0
             / CAST(lb.s AS DOUBLE)
           - ({_HLL_ALPHA} * {HLL_M * HLL_M}e0) * {1 << (HLL_WBITS + 1)}e0
             / CAST(u.s AS DOUBLE) AS overlap_estimate,
           ex.exact_overlap
    FROM ulat u
    JOIN lat la ON la.event_type = u.ta
    JOIN lat lb ON lb.event_type = u.tb
    JOIN ex ON ex.ta = u.ta AND ex.tb = u.tb
    """,
)
def approx_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA on the explicit-register HLL: the union sketch
    of two groups is the elementwise register MAX (the mergeability the
    explicit representation exists for), and the pairwise audience
    overlap estimate follows by inclusion-exclusion — no second corpus
    pass, no pairwise user join. At 100 TB the per-group sketches are
    <= m rows each; every pair estimate is arithmetic over merged
    registers. The exact overlap rides along as the quality reference
    at test scale — computed from each user's type SET (bounded |types|
    pair explosion per user), never a user-keyed self-join. Events are
    scanned ONCE: the distinct (event_type, user_id) relation is the
    shared checkpoint the registers, the type list and the exact
    overlap all derive from (duplicate events can't move a register
    max, so dedup-first is value-identical)."""
    users = type_user_pairs_df(spark, sf_dir)
    regs = hll_type_regs_df(spark, sf_dir)
    types = users.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
    )
    union_regs = (
        F.broadcast(pairs)
        .join(regs, regs["event_type"].isin(F.col("ta"), F.col("tb")) == F.lit(True))
        .groupBy("ta", "tb", "bucket")
        .agg(F.max("reg").alias("reg"))
    )

    def lattice(df: DataFrame, keys: list[str]) -> DataFrame:
        return df.groupBy(*keys).agg(
            (
                F.sum(
                    F.expr(f"shiftleft(1L, CAST({HLL_WBITS + 1} - reg AS INT))")
                )
                + (F.lit(HLL_M) - F.count(F.lit(1)))
                * F.lit(1 << (HLL_WBITS + 1))
            )
            .cast("long")
            .alias("s")
        )

    lat = lattice(regs, ["event_type"])
    ulat = lattice(union_regs, ["ta", "tb"])
    # each user's sorted type set explodes to its (ta < tb) pairs —
    # |types|-bounded per row — and the pair counts ARE the exact
    # overlaps (pairs sharing no user drop out, as in the join form)
    ex = (
        users.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(array_sort(ts), (a, i) ->"
                    " transform(slice(array_sort(ts), i + 2, size(ts)),"
                    " b -> named_struct('xta', a, 'xtb', b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.xta").alias("xta"), F.col("p.xtb").alias("xtb"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    est = (
        f"({_HLL_ALPHA} * {HLL_M * HLL_M}e0) * {1 << (HLL_WBITS + 1)}e0"
        " / CAST({s} AS DOUBLE)"
    )
    out = (
        ulat.join(lat.select(F.col("event_type").alias("ta"), F.col("s").alias("sa")), "ta")
        .join(lat.select(F.col("event_type").alias("tb"), F.col("s").alias("sb")), "tb")
        .join(
            ex,
            (F.col("ta") == F.col("xta")) & (F.col("tb") == F.col("xtb")),
        )
    )
    return out.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("s").alias("union_lattice"),
        F.expr(
            est.format(s="sa") + " + " + est.format(s="sb") + " - " + est.format(s="s")
        ).alias("overlap_estimate"),
        "exact_overlap",
    )


# ---- MERGE INTO / CDC-apply -----------------------------------------
#
# The missing mutation verb between fs_lww_snapshot (last-write-wins
# collapse) and fs_scd2_history (full history): apply a change feed of
# updates/deletes/inserts to a snapshot in ONE pass — the semantics of
# ANSI MERGE and of Delta/Iceberg's MERGE INTO, expressed as a single
# full-outer join + row-level CASE. The feed here is derived
# deterministically from the corpus (md5 buckets) so both engines see
# the identical feed without a side-channel fixture.
MERGE_UPD_HI = 10    # bucket < 10  -> update (text gains a ' rev2' suffix)
MERGE_DEL_HI = 15    # 10..14       -> delete
MERGE_INS_HI = 18    # 15..17       -> insert as a brand-new doc_id


@register(
    "corpus_merge_upsert",
    oracle=f"""
    WITH b AS (
      SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 100 AS bk
      FROM documents
    ),
    src AS (
      SELECT doc_id, 'U' AS op, text || ' rev2' AS new_text,
             lang, source FROM b WHERE bk < {MERGE_UPD_HI}
      UNION ALL
      SELECT doc_id, 'D', NULL, lang, source
      FROM b WHERE bk >= {MERGE_UPD_HI} AND bk < {MERGE_DEL_HI}
      UNION ALL
      SELECT doc_id + 1000000000, 'I', 'new ' || text, lang, 'feed'
      FROM b WHERE bk >= {MERGE_DEL_HI} AND bk < {MERGE_INS_HI}
    )
    SELECT t.doc_id, t.lang, t.source,
           CAST(t.n_chars AS BIGINT) AS n_chars, 'keep' AS action
    FROM b t LEFT JOIN src s ON s.doc_id = t.doc_id
    WHERE s.doc_id IS NULL
    UNION ALL
    SELECT t.doc_id, t.lang, t.source,
           CAST(length(s.new_text) AS BIGINT), 'update'
    FROM b t JOIN src s ON s.doc_id = t.doc_id WHERE s.op = 'U'
    UNION ALL
    SELECT s.doc_id, s.lang, s.source,
           CAST(length(s.new_text) AS BIGINT), 'insert'
    FROM src s LEFT JOIN b t ON t.doc_id = s.doc_id
    WHERE t.doc_id IS NULL AND s.op = 'I'
    """,
)
def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-MERGE semantics in one pass: WHEN MATCHED AND op='U' THEN
    UPDATE, WHEN MATCHED AND op='D' THEN DELETE, WHEN NOT MATCHED AND
    op='I' THEN INSERT, WHEN NOT MATCHED BY SOURCE THEN keep — the
    post-merge snapshot with each row's action tag. The oracle builds
    the same result as three set operations; the engine never does: ONE
    key-keyed full-outer join and a row-level CASE decide every row's
    fate (cross-algorithm check).

    Scale: exactly one shuffle of each side on the merge key — the
    shape Delta/Iceberg MERGE lowers to. The feed is corpus-derived
    (corpus-proportional), so the join is shuffle-hashed, never
    broadcast; at 100 TB the same plan holds with the snapshot bucketed
    by doc_id, which deletes even that one target shuffle."""
    from snackfs_spark.functions import md5_bucket

    b = load_table(spark, sf_dir, "documents").withColumn(
        "bk", md5_bucket(F.col("doc_id").cast("string"), 100)
    )
    src = (
        b.filter(F.col("bk") < MERGE_UPD_HI).select(
            "doc_id",
            F.lit("U").alias("op"),
            F.concat(F.col("text"), F.lit(" rev2")).alias("new_text"),
            "lang",
            "source",
        )
        .unionAll(
            b.filter(
                (F.col("bk") >= MERGE_UPD_HI) & (F.col("bk") < MERGE_DEL_HI)
            ).select(
                "doc_id",
                F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("new_text"),
                "lang",
                "source",
            )
        )
        .unionAll(
            b.filter(
                (F.col("bk") >= MERGE_DEL_HI) & (F.col("bk") < MERGE_INS_HI)
            ).select(
                (F.col("doc_id") + 1000000000).alias("doc_id"),
                F.lit("I").alias("op"),
                F.concat(F.lit("new "), F.col("text")).alias("new_text"),
                "lang",
                F.lit("feed").alias("source"),
            )
        )
    )
    t = b.select(
        F.col("doc_id").alias("t_doc_id"),
        F.col("lang").alias("t_lang"),
        F.col("source").alias("t_source"),
        F.col("n_chars").alias("t_n_chars"),
    )
    s = src.select(
        F.col("doc_id").alias("s_doc_id"),
        "op",
        "new_text",
        F.col("lang").alias("s_lang"),
        F.col("source").alias("s_source"),
    )
    merged = t.join(
        s.hint("shuffle_hash"), t["t_doc_id"] == s["s_doc_id"], "full_outer"
    )
    action = (
        F.when(F.col("s_doc_id").isNull(), F.lit("keep"))
        .when(F.col("t_doc_id").isNull() & (F.col("op") == "I"), F.lit("insert"))
        .when(F.col("t_doc_id").isNotNull() & (F.col("op") == "U"), F.lit("update"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        merged.withColumn("action", action)
        .filter(F.col("action").isNotNull())
        .select(
            F.coalesce(F.col("t_doc_id"), F.col("s_doc_id")).alias("doc_id"),
            F.coalesce(F.col("t_lang"), F.col("s_lang")).alias("lang"),
            F.when(F.col("action") == "insert", F.col("s_source"))
            .otherwise(F.col("t_source"))
            .alias("source"),
            F.when(F.col("action") == "keep", F.col("t_n_chars"))
            .otherwise(F.length("new_text"))
            .cast("long")
            .alias("n_chars"),
            "action",
        )
    )


# ------------------------------------------------------- RFM segmentation ----
#
# Recency / Frequency / Monetary customer segmentation — the classic
# CRM rollup (Hughes 1994), here with FIXED policy bands rather than
# data quantiles: band edges are declared constants, so scoring is a
# zero-shuffle projection over the per-customer aggregate and the
# operator is scale-free past that one groupBy. (Quantile-derived bands
# are the bounded-histogram move text_perplexity_buckets /
# events_quantiles_binned already showcase; RFM in practice ships with
# policy thresholds so scores stay comparable across runs.)
RFM_AS_OF = "2001-09-01 00:00:00"  # fixture order dates end 2001-08-01
RFM_R_EDGES = (180, 540)      # days:  <180 -> 3, <540 -> 2, else 1
RFM_F_EDGES = (12, 8)         # orders: >=12 -> 3, >=8 -> 2, else 1
RFM_M_EDGES = (3000000, 1500000)  # dollars: >=3M -> 3, >=1.5M -> 2, else 1


@register(
    "orders_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), TIMESTAMP '{RFM_AS_OF}')
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             CASE WHEN recency_days < {RFM_R_EDGES[0]} THEN 3
                  WHEN recency_days < {RFM_R_EDGES[1]} THEN 2 ELSE 1 END AS r,
             CASE WHEN frequency >= {RFM_F_EDGES[0]} THEN 3
                  WHEN frequency >= {RFM_F_EDGES[1]} THEN 2 ELSE 1 END AS f,
             CASE WHEN monetary >= {RFM_M_EDGES[0]} THEN 3
                  WHEN monetary >= {RFM_M_EDGES[1]} THEN 2 ELSE 1 END AS m,
             frequency, monetary
      FROM per_cust
    )
    SELECT r, f, m,
           CASE WHEN r = 3 AND f = 3 THEN 'champion'
                WHEN r = 3 THEN 'recent'
                WHEN f = 3 THEN 'loyal_lapsing'
                WHEN r = 1 AND f = 1 THEN 'hibernating'
                ELSE 'regular' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(frequency) AS BIGINT) AS total_orders,
           CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1, 2, 3, 4
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary scored
    into fixed 1-3 policy bands, rolled up to the 27-cell segment grid
    with named segments (champion / recent / loyal_lapsing / hibernating
    / regular) and per-segment order and revenue totals.

    Scale: ONE customer-keyed aggregate (map-side combinable) is the
    only data-proportional shuffle; banding is codegen projection and
    the segment rollup collapses map-side onto <= 27 keys. Monetary sums
    accumulate in decimal and cast to double once (order-independent)."""
    orders = load_table(spark, sf_dir, "orders")
    as_of = F.lit(RFM_AS_OF).cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.date_diff(as_of, F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(money("o_totalprice")).alias("monetary"),
    )
    scored = per_cust.select(
        F.when(F.col("recency_days") < RFM_R_EDGES[0], 3)
        .when(F.col("recency_days") < RFM_R_EDGES[1], 2)
        .otherwise(1)
        .alias("r"),
        F.when(F.col("frequency") >= RFM_F_EDGES[0], 3)
        .when(F.col("frequency") >= RFM_F_EDGES[1], 2)
        .otherwise(1)
        .alias("f"),
        F.when(F.col("monetary") >= RFM_M_EDGES[0], 3)
        .when(F.col("monetary") >= RFM_M_EDGES[1], 2)
        .otherwise(1)
        .alias("m"),
        "frequency",
        "monetary",
    )
    segment = (
        F.when((F.col("r") == 3) & (F.col("f") == 3), "champion")
        .when(F.col("r") == 3, "recent")
        .when(F.col("f") == 3, "loyal_lapsing")
        .when((F.col("r") == 1) & (F.col("f") == 1), "hibernating")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("r", "f", "m", "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("frequency").cast("long").alias("total_orders"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
    )


# ------------------------------------------- DP contribution-bound audit ----
#
# The pre-DP calibration every differentially-private release needs:
# user-level sensitivity is set by CLIPPING each user's contribution,
# and the clip bound is chosen from the contribution distribution (too
# low destroys signal, too high inflates noise). The privacy family's
# third member: k-anonymity audits groups, l-diversity audits attribute
# disclosure, this audits per-USER volume before aggregate release.
#
# The bound search never sorts users: per-user row counts histogram
# onto power-of-two buckets (a bounded lattice), and the report gives,
# for each candidate clip c = 2^b, exactly how many users exceed it and
# how many rows survive clipping — sum(least(rows_u, c)) — so the
# "smallest c retaining >= 95% of rows" read-off is one scan of a
# <= 64-row relation.


@register(
    "privacy_contribution_bounds",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT CAST(floor(log2(n_rows)) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_rows) AS BIGINT) AS n_rows
      FROM per_user GROUP BY 1
    ),
    cand AS (SELECT bucket, CAST(2 ** (bucket + 1) AS BIGINT) AS clip FROM hist),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                   CAST(COUNT(*) AS BIGINT) AS total_users FROM per_user),
    audit AS (
      SELECT c.clip,
             CAST(SUM(CASE WHEN p.n_rows > c.clip THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_users,
             CAST(SUM(LEAST(p.n_rows, c.clip)) AS BIGINT) AS kept_rows
      FROM cand c CROSS JOIN per_user p
      GROUP BY c.clip
    )
    SELECT a.clip, a.n_clipped_users, a.kept_rows, t.total_rows, t.total_users,
           CAST((1000 * a.kept_rows) // t.total_rows AS BIGINT) AS kept_permille
    FROM audit a CROSS JOIN tot t
    """,
)
def privacy_contribution_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP clipping-bound audit: for every power-of-two candidate clip
    spanning the observed per-user contribution range, the exact number
    of users that would be clipped and the exact row mass retained
    (permille of total) — the table a DP release reads to pick the
    user-level sensitivity bound.

    Scale: ONE user-keyed count aggregate (map-side combinable) is the
    only corpus-proportional shuffle. The candidate set derives from the
    power-of-two histogram (<= 64 buckets at any scale) and the audit
    joins candidates BROADCAST against per-user counts — per-user rows
    stream once through a 64-candidate codegen loop, never sorted,
    never re-shuffled."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    per_user = per_user.localCheckpoint(eager=False)  # feeds cand, tot, audit
    cand = (
        per_user.select(
            F.floor(F.log2("n_rows")).cast("long").alias("bucket")
        )
        .distinct()
        .select(
            F.expr("shiftleft(1L, cast(bucket + 1 as int))").cast("long").alias("clip")
        )
    )
    tot = per_user.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("total_users"),
    )
    audit = (
        per_user.crossJoin(F.broadcast(cand))
        .groupBy("clip")
        .agg(
            F.sum((F.col("n_rows") > F.col("clip")).cast("int"))
            .cast("long")
            .alias("n_clipped_users"),
            F.sum(F.least(F.col("n_rows"), F.col("clip")))
            .cast("long")
            .alias("kept_rows"),
        )
    )
    return audit.crossJoin(F.broadcast(tot)).select(
        "clip",
        "n_clipped_users",
        "kept_rows",
        "total_rows",
        "total_users",
        F.expr("(1000 * kept_rows) div total_rows").cast("long").alias("kept_permille"),
    )


# ------------------------------------------------- join-order advisor ----
#
# Cost-based join ordering from EXACT key statistics — the what-if
# report behind Catalyst's (and every CBO's) join reordering, computed
# precisely instead of from sampled sketches: for the Q3-filtered
# 3-table join customer ⋈ orders ⋈ lineitem, the exact row count of
# each candidate left-deep intermediate and the total rows materialized
# per order. join_size_estimate_cm is the sketch twin (Count-Min inner
# products, approximate, one pass); this is the ground truth an
# optimizer-calibration harness compares such sketches against. At
# 100 TB the advisor's input relations are key-count aggregates (fully
# map-side combined), never the facts themselves.


@register(
    "rel_join_order_advisor",
    oracle="""
    WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    o AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-03-15'),
    l AS (SELECT l_orderkey FROM lineitem
          WHERE l_shipdate > TIMESTAMP '1995-03-15'),
    co AS (SELECT o.o_orderkey FROM o JOIN c ON c.c_custkey = o.o_custkey),
    lcnt AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS lc FROM l GROUP BY 1),
    inter_a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM co),
    inter_b AS (SELECT CAST(COALESCE(SUM(lc), 0) AS BIGINT) AS n
                FROM o JOIN lcnt ON lcnt.l_orderkey = o.o_orderkey),
    fin AS (SELECT CAST(COALESCE(SUM(lc), 0) AS BIGINT) AS n
            FROM co JOIN lcnt ON lcnt.l_orderkey = co.o_orderkey),
    plans AS (
      SELECT 'customer_orders_first' AS join_order, a.n AS intermediate_rows,
             f.n AS final_rows, a.n + f.n AS total_cost
      FROM inter_a a CROSS JOIN fin f
      UNION ALL
      SELECT 'orders_lineitem_first', b.n, f.n, b.n + f.n
      FROM inter_b b CROSS JOIN fin f
    )
    SELECT join_order, intermediate_rows, final_rows, total_cost,
           CAST(RANK() OVER (ORDER BY total_cost, join_order) AS BIGINT) AS rank
    FROM plans
    """,
)
def rel_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-order advisor for the Q3-filtered customer ⋈ orders ⋈
    lineitem join: per left-deep candidate order, the exact intermediate
    row count, the (order-independent) final count, total rows
    materialized, and the cost rank — the precise version of what a CBO
    estimates from sketches (join_size_estimate_cm is the sketch twin).

    Scale: no candidate plan is EXECUTED — sizes come from key-count
    algebra. lineitem collapses map-side to per-orderkey counts; the
    customer gate is a semi-join on custkey; both intermediates reduce
    to key-keyed joins over collapsed relations followed by 1-row sums.
    The final window ranks 2 rows. Filters reach the scans (pushdown),
    facts are never joined row-for-row."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .select("l_orderkey")
    )
    # ONE filtered-orders pass carries the customer gate as a FLAG
    # (c_custkey is the customer PK, so the left join cannot duplicate
    # orders and gate=true is exactly the old semi-join), and ONE lcnt
    # join computes both line-weighted sums — the old shape scanned
    # orders twice (semi join + inter_b probe) and joined lcnt twice
    # (inter_b and fin). No broadcast hint (r11 ADVICE): the filtered
    # customer side is fact-scale at large SF, so the planner/AQE picks
    # the strategy from its size estimate (auto-broadcast at bench SF,
    # shuffled join above the threshold) instead of being forced into a
    # driver-OOM-risk broadcast.
    og = (
        o.join(
            c.withColumn("hit", F.lit(1)),
            o["o_custkey"] == c["c_custkey"],
            "left",
        )
        .select("o_orderkey", F.col("hit").isNotNull().alias("gate"))
        .localCheckpoint(eager=False)  # feeds inter_a AND the lcnt join
    )
    lcnt = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("lc"))
    inter_a = og.filter("gate").agg(F.count(F.lit(1)).cast("long").alias("n"))
    bf = (
        og.join(lcnt, og["o_orderkey"] == lcnt["l_orderkey"])
        .agg(
            F.coalesce(F.sum("lc"), F.lit(0)).cast("long").alias("bn"),
            F.coalesce(F.sum(F.when(F.col("gate"), F.col("lc"))), F.lit(0))
            .cast("long")
            .alias("fn"),
        )
    )
    plans = inter_a.crossJoin(F.broadcast(bf)).select(
        F.expr(
            "stack(2, 'customer_orders_first', n, 'orders_lineitem_first', bn)"
            " AS (join_order, intermediate_rows)"
        ),
        F.col("fn").alias("final_rows"),
    ).select(
        "join_order",
        "intermediate_rows",
        "final_rows",
        (F.col("intermediate_rows") + F.col("final_rows")).alias("total_cost"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("total_cost", "join_order")  # 2 rows by construction
    return plans.withColumn("rank", F.rank().over(w).cast("long"))


# --------------------------------------------- daily HLL prefix union ----
#
# The cumulative-cardinality time series ("unique users to date, per
# day") computed the way a 100 TB deployment must: per-day HLL
# registers UNIONED ACROSS DAYS by elementwise max — the mergeability
# that lets daily partitions keep 2 KB sketches and any date-range
# cardinality come from register max, no raw re-scan. The union is
# computed as a per-bucket running max turned into LATTICE DELTAS (a
# bucket contributes only when its register grows), so the day rollup
# collapses map-side onto <= |days| keys and the prefix sum runs over
# the bounded day table. Exact cumulative distinct (first-day counts +
# prefix sum) rides along as the quality reference, same contract as
# approx_distinct_hll.


@register(
    "approx_hll_daily_union",
    oracle=f"""
    WITH h AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
      FROM events
    ),
    ranks AS (
      SELECT day,
             v >> {HLL_WBITS} AS bucket,
             CASE WHEN (v & {(1 << HLL_WBITS) - 1}) > 0
                  THEN {HLL_WBITS + 1} - length(bin(v & {(1 << HLL_WBITS) - 1}))
                  ELSE {HLL_WBITS + 1} END AS r
      FROM h
    ),
    regs AS (SELECT day, bucket, MAX(r) AS reg FROM ranks GROUP BY day, bucket),
    cums AS (
      SELECT day, bucket,
             MAX(reg) OVER (PARTITION BY bucket ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             MAX(reg) OVER (PARTITION BY bucket ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev
      FROM regs
    ),
    deltas AS (
      SELECT day,
             CAST(SUM((1::BIGINT << ({HLL_WBITS + 1} - cum))
                      - COALESCE(1::BIGINT << ({HLL_WBITS + 1} - prev),
                                 1::BIGINT << {HLL_WBITS + 1})) AS BIGINT)
               AS d_lattice,
             CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS d_used
      FROM cums GROUP BY day
    ),
    sk AS (
      SELECT day,
             CAST(({HLL_M}::BIGINT << {HLL_WBITS + 1})
                  + SUM(d_lattice) OVER (ORDER BY day) AS BIGINT) AS s,
             CAST(SUM(d_used) OVER (ORDER BY day) AS BIGINT) AS n_used
      FROM deltas
    ),
    firsts AS (SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d'))
                        AS first_day
               FROM events GROUP BY user_id),
    exd AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
            FROM firsts GROUP BY first_day),
    ex AS (
      SELECT sk.day,
             CAST(SUM(COALESCE(exd.n_new, 0)) OVER (ORDER BY sk.day) AS BIGINT)
               AS exact_cum
      FROM sk LEFT JOIN exd ON exd.day = sk.day
    )
    SELECT sk.day, sk.n_used, sk.s AS lattice_sum,
           ({_HLL_ALPHA} * {HLL_M * HLL_M}e0)
             * {1 << (HLL_WBITS + 1)}e0 / CAST(sk.s AS DOUBLE)
             AS raw_estimate,
           ex.exact_cum AS exact_cum_distinct
    FROM sk JOIN ex ON ex.day = sk.day
    """,
)
def approx_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative unique-user curve from prefix-unioned HLL
    registers: per day, the unioned sketch's used-register count,
    lattice sum, raw estimate, and the exact cumulative distinct as the
    quality reference — the mergeable-sketch pattern that serves any
    date-range cardinality at 100 TB from per-partition 2 KB sketches.

    Scale: one (day, bucket)-keyed register aggregate (map-side
    combinable) is the only corpus-proportional sketch work; the
    running union is a per-bucket window over the <= days-per-bucket
    lattice, collapsed to LATTICE DELTAS so the day rollup and prefix
    sums run over <= |days| rows. The exact reference pays one
    user-keyed min shuffle (first-occurrence pattern). All integer
    until the one portable float estimate per day."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    regs = _hll_registers(ev.select(day.alias("day"), "user_id"), "day")
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket").orderBy("day")
    cums = regs.select(
        "day",
        F.max("reg").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.max("reg").over(wb.rowsBetween(Window.unboundedPreceding, -1)).alias("prev"),
    )
    lat = lambda c: F.expr(f"shiftleft(1L, CAST({HLL_WBITS + 1} - {c} AS INT))")  # noqa: E731
    deltas = cums.groupBy("day").agg(
        F.sum(
            lat("cum") - F.coalesce(lat("prev"), F.lit(1 << (HLL_WBITS + 1)).cast("long"))
        )
        .cast("long")
        .alias("d_lattice"),
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0)).cast("long").alias("d_used"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    sk = deltas.select(
        "day",
        (
            F.lit(HLL_M * (1 << (HLL_WBITS + 1))).cast("long") + F.sum("d_lattice").over(wd)
        )
        .cast("long")
        .alias("s"),
        F.sum("d_used").over(wd).cast("long").alias("n_used"),
    )
    firsts = ev.select(day.alias("day"), "user_id").groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    exd = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    est = F.expr(
        f"({_HLL_ALPHA} * {HLL_M * HLL_M}e0)"
        f" * {1 << (HLL_WBITS + 1)}e0 / CAST(s AS DOUBLE)"
    )
    # the exact-reference prefix sum runs over the SAME day axis after
    # ONE left join — r11 opt: the old shape read sk twice (a day-spine
    # projection for the exact leg, then a join back), re-running the
    # register scan + window chain per consumer (events scans 3 -> 2,
    # one join gone); identical cumulative (exd is unique per day and
    # left-joining cannot add or drop sk rows)
    return (
        sk.join(exd, "day", "left")
        .select(
            "day",
            "n_used",
            F.col("s").alias("lattice_sum"),
            est.alias("raw_estimate"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(wd)
            .cast("long")
            .alias("exact_cum_distinct"),
        )
    )


# ------------------------------------------------------- Benford audit ----
#
# Benford's law (Newcomb 1881, Benford 1938): in naturally-occurring
# multiplicative data the first significant digit d appears with
# probability log10(1 + 1/d) — the classic forensic-accounting screen
# for fabricated or clipped monetary columns. The expected shares are
# fixed mathematical constants, embedded here as exact ppm integers
# (they sum to exactly 1_000_000), so the whole audit is integer
# algebra: observed ppm by one 9-key aggregate, deviation per digit,
# and the total-variation distance as sum(|obs-exp|)/2.
#
# On the driver's uniform synthetic prices the audit FLAGS the column
# (uniform data is not Benford) — which is the point: it is a detector,
# and the oracle checks the detector's exact arithmetic, not a verdict.
BENFORD_EXPECTED_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_EXPECTED_PPM.items()
) + " END"


@register(
    "orders_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts),
    scored AS (
      SELECT digit, n,
             CAST((1000000 * n) // n_total AS BIGINT) AS obs_ppm,
             CAST({_BENFORD_CASE_SQL} AS BIGINT) AS exp_ppm
      FROM counts CROSS JOIN tot
    )
    SELECT digit, n, obs_ppm, exp_ppm,
           CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm,
           CAST(SUM(abs(obs_ppm - exp_ppm)) OVER () // 2 AS BIGINT) AS tv_ppm
    FROM scored
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice: per-digit observed vs
    expected ppm (exact log10(1+1/d) constants), absolute deviation, and
    the corpus total-variation distance — the fraud/clipping screen an
    ingest pipeline runs over every monetary column.

    Scale: ONE map-side 9-key aggregate over the scan (first digit is a
    string op in codegen); everything after runs on <= 9 rows, so the
    global window and the 1-row total broadcast are bounded by
    construction — no data-proportional state anywhere past the scan."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(F.sum("n").cast("long").alias("n_total"))
    scored = counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("(1000000 * n) div n_total").cast("long").alias("obs_ppm"),
        F.expr(_BENFORD_CASE_SQL.replace("//", "div")).cast("long").alias("exp_ppm"),
    )
    # <= 9 rows past this point: the unpartitioned window is bounded by
    # the digit alphabet, not the data (same class as the bin-table
    # windows documented in DESIGN.md).
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scored.select(
        "digit",
        "n",
        "obs_ppm",
        "exp_ppm",
        F.abs(F.col("obs_ppm") - F.col("exp_ppm")).cast("long").alias("dev_ppm"),
        (F.sum(F.abs(F.col("obs_ppm") - F.col("exp_ppm"))).over(w) / F.lit(2))
        .cast("long")
        .alias("tv_ppm"),
    )


# ---------------------------------------------------- ABC / Pareto class ----
#
# ABC analysis (the 80/15/5 Pareto classification every revenue or
# inventory dashboard runs): customers ranked by revenue, class A while
# the cumulative share is <= 80%, B to 95%, C beyond. The classic form
# is a global ORDER BY revenue DESC + running sum — a corpus sort. Here
# the rank is decomposed the Zipf-octave way: customers land in
# power-of-two revenue-cent bands (length(bin(cents)) — band order IS
# revenue order across bands), the <= 64-row band table carries the
# cross-band prefix, and the running sum inside each band is a window
# PARTITIONED by band — no global window ever sees the customer
# relation. Revenue is exact decimal cents throughout; shares are ppm
# integer floors.
# class cuts as exact rationals: A while cum/total <= 4/5, B to 19/20
# (cross-multiplied compares — see the overflow note in the function)
ABC_A_NUM, ABC_A_DEN = 4, 5
ABC_B_NUM, ABC_B_DEN = 19, 20


@register(
    "orders_pareto_abc",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM rev),
    ranked AS (
      SELECT o_custkey, cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM rev
    ),
    classed AS (
      SELECT o_custkey, cents,
             CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 'A'
                  WHEN 20 * cum_cents <= 19 * total_cents THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked CROSS JOIN tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST((1000000 * CAST(SUM(cents) AS HUGEINT)) // MAX(tot.total_cents)
                AS BIGINT) AS revenue_share_ppm,
           CAST(MIN(cents) AS BIGINT) AS min_customer_cents,
           CAST(MAX(cents) AS BIGINT) AS max_customer_cents
    FROM classed CROSS JOIN tot
    GROUP BY abc_class
    """,
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/15/5) classification of customers by exact decimal
    revenue: per class, customer count, revenue cents, revenue share ppm
    and the class's customer-revenue range — computed with the banded
    two-phase rank (power-of-two cent bands + partitioned within-band
    running sums), so the classification is exactly the global-sort
    answer without any global sort.

    Scale: one customer-keyed aggregate shuffle; the band table is
    <= 64 rows (bounded windows); the within-band running sum is a
    window partitioned on the band key — partitions shrink geometrically
    with revenue, and no relation past the customer aggregate is
    unpartitioned."""
    orders = load_table(spark, sf_dir, "orders")
    # per-customer revenue feeds the total, the band table AND the
    # ranked relation — unchckpointed the order scan + customer shuffle
    # ran three times (r11 opt: 3 scans -> 1)
    rev = (
        orders.groupBy("o_custkey")
        .agg((F.sum(money("o_totalprice")) * 100).cast("long").alias("cents"))
        .localCheckpoint(eager=False)
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    banded = rev.withColumn("band", F.length(F.bin("cents")))
    bands = banded.groupBy("band").agg(F.sum("cents").cast("long").alias("band_cents"))
    wband = Window.partitionBy(F.lit(1)).orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    band_pref = bands.select(
        "band",
        F.coalesce(F.sum("band_cents").over(wband), F.lit(0))
        .cast("long")
        .alias("before_cents"),
    )
    win = Window.partitionBy("band").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        banded.join(F.broadcast(band_pref), "band")
        .withColumn("in_band_cum", F.sum("cents").over(win).cast("long"))
        .select(
            "o_custkey",
            "cents",
            (F.col("before_cents") + F.col("in_band_cum")).alias("cum_cents"),
        )
    )
    # classification is the exact cross-multiplied rational compare
    # (cum/total <= 4/5, <= 19/20): no 1e6 ppm multiply of a corpus-
    # proportional cumulative — the 100x sweep caught the ppm form
    # overflowing int64 on the sf10 fixture (1e6 * cum_cents > 2^63).
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "cents",
        "total_cents",
        F.when(F.expr("5 * cum_cents") <= F.expr("4 * total_cents"), F.lit("A"))
        .when(F.expr("20 * cum_cents") <= F.expr("19 * total_cents"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        # decimal(38,0) widening: class revenue * 1e6 exceeds int64 two
        # decades up (same lever as the OLS/bot-triage rationals)
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(cents))"
            " div max(total_cents) AS BIGINT)"
        ).alias("revenue_share_ppm"),
        F.min("cents").cast("long").alias("min_customer_cents"),
        F.max("cents").cast("long").alias("max_customer_cents"),
    )


# ------------------------------------------- generalization ladder (k-anon) ----
#
# The mechanism k-anonymity audits ask for next: WHICH generalization
# level to publish at. The ladder coarsens the quasi-identifier one rung
# at a time — L0 (nation x segment x balance band, the privacy_k_anonymity
# QI) -> L1 drop the band -> L2 nation->region -> L3 segment only — and
# the chosen level is the FIRST rung whose minimum class size reaches
# K_ANON_THRESHOLD (Samarati's minimal-generalization criterion on a
# fixed ladder). Each rung is one customer-keyed aggregate; the rung
# stats and the choice are bounded algebra.


@register(
    "privacy_generalization_ladder",
    oracle=f"""
    WITH l0 AS (
      SELECT CAST(0 AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS k
      FROM customer GROUP BY c_nationkey, c_mktsegment, {_ACCTBAL_BAND_SQL}
    ),
    l1 AS (
      SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT)
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    l2 AS (
      SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT)
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_regionkey, c.c_mktsegment
    ),
    l3 AS (
      SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT)
      FROM customer GROUP BY c_mktsegment
    ),
    classes AS (
      SELECT * FROM l0 UNION ALL SELECT * FROM l1
      UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
    ),
    stats AS (
      SELECT level,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(k) AS BIGINT) AS min_k,
             CAST(SUM(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST(CASE WHEN MIN(k) >= {K_ANON_THRESHOLD} THEN 1 ELSE 0 END AS BIGINT)
               AS achieved
      FROM classes GROUP BY level
    ),
    chosen AS (
      SELECT CAST(COALESCE(MIN(CASE WHEN achieved = 1 THEN level END), -1) AS BIGINT)
        AS chosen_level
      FROM stats
    )
    SELECT stats.level, stats.n_classes, stats.min_k, stats.n_rows_at_risk,
           stats.achieved, chosen.chosen_level
    FROM stats CROSS JOIN chosen
    """,
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: per rung (L0 full QI .. L3
    segment-only) the class count, minimum class size, rows at risk
    below K_ANON_THRESHOLD, an achieved flag, and the chosen level —
    the first rung meeting the threshold (minimal generalization on a
    fixed ladder). The publish-decision table, not just the audit.

    Scale: each rung is ONE customer-keyed map-side-combinable
    aggregate (the region rung broadcasts the nation dim); rung stats
    are bounded class relations and the choice is a 4-row fold."""
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    band = F.expr(_ACCTBAL_BAND_SPARK)
    l0 = customer.groupBy("c_nationkey", "c_mktsegment", band.alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    ).select(F.lit(0).cast("long").alias("level"), "k")
    l1 = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    ).select(F.lit(1).cast("long").alias("level"), "k")
    l2 = (
        customer.join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .select(F.lit(2).cast("long").alias("level"), "k")
    )
    l3 = customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    ).select(F.lit(3).cast("long").alias("level"), "k")
    classes = l0.unionByName(l1).unionByName(l2).unionByName(l3)
    stats = classes.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < K_ANON_THRESHOLD, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.when(F.min("k") >= K_ANON_THRESHOLD, 1)
        .otherwise(0)
        .cast("long")
        .alias("achieved"),
    )
    chosen = stats.agg(
        F.coalesce(
            F.min(F.when(F.col("achieved") == 1, F.col("level"))), F.lit(-1)
        )
        .cast("long")
        .alias("chosen_level")
    )
    return stats.crossJoin(F.broadcast(chosen)).select(
        "level", "n_classes", "min_k", "n_rows_at_risk", "achieved", "chosen_level"
    )


# ------------------------------------------------- duplicate payments ----
#
# Double-charge / duplicate-transaction screen (the second classic
# forensic-accounting pass next to the Benford audit): orders by the
# same customer for the EXACT same amount are candidate duplicates.
# Amounts compare as exact decimal cents (never doubles); groups of
# >= 2 are reported with their order-key range and date span — a span
# of 0 days is the strongest double-submit signal, a long span is more
# likely a recurring charge. One customer+amount-keyed aggregate; the
# report relation is the duplicate groups only.


@register(
    "orders_duplicate_payments",
    oracle="""
    SELECT o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS amount_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_orderkey,
           CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS BIGINT)
             AS span_days
    FROM orders
    GROUP BY o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) * 100
    HAVING COUNT(*) >= 2
    """,
)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: (customer, exact amount-cents) groups
    with >= 2 orders, their order-key range and day span — the
    double-charge candidates a billing audit reviews, with same-day
    groups as the top of the queue.

    Scale: ONE map-side-combinable aggregate on (custkey, cents);
    the HAVING prunes to duplicate groups before anything leaves the
    aggregation — no join, no window, nothing data-proportional in
    the output path beyond the true duplicates."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            "o_custkey",
            (money("o_totalprice") * 100).cast("long").alias("amount_cents"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_orderkey").cast("long").alias("first_orderkey"),
            F.max("o_orderkey").cast("long").alias("last_orderkey"),
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            .alias("span_days"),
        )
        .filter(F.col("n_orders") >= 2)
    )


# ------------------------------------------------------ t-closeness ----
#
# The third rung of the privacy-audit ladder (k-anonymity -> l-diversity
# -> t-closeness, Li et al. 2007): a QI class leaks through its
# sensitive-value DISTRIBUTION even when it is k-anonymous and
# l-diverse, so compare each class's acctbal-band distribution to the
# corpus distribution by Earth Mover's Distance. For an ORDERED
# attribute EMD is the mean absolute difference of the two CDFs:
#   EMD = (1/(m-1)) * sum_i |cumP_i - cumQ_i|
# computed here entirely in cross-multiplied integers over the common
# denominator k*N: emd_num = sum_i |cum_p_i*N - cum_q_i*k|, emd_den =
# k*N*(m-1) — no float frequency ever compared (the drift-TV pattern,
# applied to CDFs). The class x band lattice is densified explicitly
# because missing bands must contribute their cumulative counts.
TCLOSE_T_NUM, TCLOSE_T_DEN = 1, 4  # flag classes with EMD > 0.25


@register(
    "privacy_t_closeness",
    oracle=f"""
    WITH rows_ AS (
      SELECT c_nationkey, c_mktsegment, {_ACCTBAL_BAND_SQL} AS band FROM customer
    ),
    gbands AS (SELECT DISTINCT band FROM rows_),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM gbands),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rows_),
    gcum AS (
      SELECT g.band,
             CAST(COALESCE(SUM(c.n) OVER (ORDER BY g.band
                   ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS cum_q
      FROM gbands g LEFT JOIN (SELECT band, COUNT(*) AS n FROM rows_ GROUP BY band) c
        ON c.band = g.band
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k
      FROM rows_ GROUP BY c_nationkey, c_mktsegment
    ),
    lattice AS (
      SELECT cl.c_nationkey, cl.c_mktsegment, cl.k, g.band,
             CAST(COALESCE(cc.n, 0) AS BIGINT) AS n
      FROM classes cl CROSS JOIN gbands g
      LEFT JOIN (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n
                 FROM rows_ GROUP BY 1, 2, 3) cc
        ON cc.c_nationkey = cl.c_nationkey
       AND cc.c_mktsegment = cl.c_mktsegment AND cc.band = g.band
    ),
    pcum AS (
      SELECT c_nationkey, c_mktsegment, k, band,
             CAST(SUM(n) OVER (PARTITION BY c_nationkey, c_mktsegment
                               ORDER BY band ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_p
      FROM lattice
    )
    SELECT p.c_nationkey, p.c_mktsegment, p.k, m.m,
           CAST(SUM(abs(p.cum_p * nn.n - g.cum_q * p.k)) AS BIGINT) AS emd_num,
           CAST(p.k * nn.n * (m.m - 1) AS BIGINT) AS emd_den,
           CAST(SUM(abs(p.cum_p * nn.n - g.cum_q * p.k)) AS DOUBLE)
             / CAST(p.k * nn.n * (m.m - 1) AS DOUBLE) AS emd,
           CAST(CASE WHEN {TCLOSE_T_DEN} * SUM(abs(p.cum_p * nn.n - g.cum_q * p.k))
                          > {TCLOSE_T_NUM} * p.k * nn.n * (m.m - 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS t_flag
    FROM pcum p JOIN gcum g ON g.band = p.band
    CROSS JOIN m CROSS JOIN nn
    GROUP BY p.c_nationkey, p.c_mktsegment, p.k, m.m, nn.n
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit per QI class (nation x segment): exact rational
    EMD of the class's ordered acctbal-band CDF against the corpus CDF
    (emd_num/emd_den over the cross-multiplied common denominator), its
    one-division double, and the t=0.25 flag — the distribution-leak
    rung the k-anonymity and l-diversity audits miss.

    Scale: one customer scan feeds the class counts, the global band
    histogram (bounded), and the class x band lattice; the only
    data-proportional shuffle is the QI-keyed aggregate — the CDF
    windows run per class over <= m bounded band rows, and the EMD fold
    collapses the lattice back onto class keys map-side."""
    customer = load_table(spark, sf_dir, "customer")
    rows_ = customer.select(
        "c_nationkey", "c_mktsegment", F.expr(_ACCTBAL_BAND_SPARK).alias("band")
    ).localCheckpoint(eager=False)
    gbands = rows_.select("band").distinct()
    m = gbands.agg(F.count(F.lit(1)).cast("long").alias("m"))
    nn = rows_.agg(F.count(F.lit(1)).cast("long").alias("n"))
    wg = Window.partitionBy(F.lit(1)).orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gcounts = rows_.groupBy("band").agg(F.count(F.lit(1)).alias("gn"))
    gcum = (
        gbands.join(gcounts, "band", "left")
        .select("band", F.coalesce("gn", F.lit(0)).alias("gn"))
        .select("band", F.sum("gn").over(wg).cast("long").alias("cum_q"))
    )
    classes = rows_.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    ccounts = rows_.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("cn")
    )
    lattice = (
        classes.crossJoin(F.broadcast(gbands))
        .join(ccounts.hint("shuffle_hash"), ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "band",
            F.coalesce("cn", F.lit(0)).alias("n"),
        )
    )
    wp = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pcum = lattice.withColumn("cum_p", F.sum("n").over(wp).cast("long"))
    diff = F.abs(F.col("cum_p") * F.col("n_total") - F.col("cum_q") * F.col("k"))
    return (
        pcum.join(F.broadcast(gcum), "band")
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(nn.select(F.col("n").alias("n_total"))))
        .groupBy("c_nationkey", "c_mktsegment", "k", "m", "n_total")
        .agg(F.sum(diff).cast("long").alias("emd_num"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "m",
            "emd_num",
            (F.col("k") * F.col("n_total") * (F.col("m") - 1))
            .cast("long")
            .alias("emd_den"),
            (
                F.col("emd_num").cast("double")
                / (F.col("k") * F.col("n_total") * (F.col("m") - 1)).cast("double")
            ).alias("emd"),
            F.when(
                F.lit(TCLOSE_T_DEN) * F.col("emd_num")
                > F.lit(TCLOSE_T_NUM) * F.col("k") * F.col("n_total") * (F.col("m") - 1),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("t_flag"),
        )
    )


# ----------------------------------------------- price-volume-mix (PVM) ----
#
# Revenue-bridge decomposition (the FP&A "price-volume-mix waterfall"):
# why did brand revenue change between PVM_Y1 and PVM_Y2? With q = unit
# volume and r = revenue, the Laspeyres split is
#   volume effect = (q2 - q1) * (r1/q1),  price/mix effect = r2 - q2*(r1/q1)
# and the two provably sum to r2 - r1. Both effects share the exact
# denominator q1, so they are emitted as the exact rationals
# (vol_num, price_num) / q1 with cents numerators — no unit price is
# ever divided out — plus their correctly-rounded doubles and the
# exact delta identity column. Brands missing a year are their own
# rows (new/discontinued: the whole delta is volume by convention,
# q1 = 0 handled by the 1-guard denominator).
PVM_Y1, PVM_Y2 = 1996, 1997


@register(
    "lineitem_pvm_decomposition",
    oracle=f"""
    WITH li AS (
      SELECT p.p_brand,
             year(l.l_shipdate) AS y,
             CAST(l.l_quantity AS BIGINT) AS q,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(l.l_shipdate) IN ({PVM_Y1}, {PVM_Y2})
    ),
    agg AS (
      SELECT p_brand,
             CAST(COALESCE(SUM(q) FILTER (y = {PVM_Y1}), 0) AS BIGINT) AS q1,
             CAST(COALESCE(SUM(q) FILTER (y = {PVM_Y2}), 0) AS BIGINT) AS q2,
             CAST(COALESCE(SUM(cents) FILTER (y = {PVM_Y1}), 0) AS BIGINT) AS r1,
             CAST(COALESCE(SUM(cents) FILTER (y = {PVM_Y2}), 0) AS BIGINT) AS r2
      FROM li GROUP BY p_brand
    )
    SELECT p_brand, q1, q2, r1 AS r1_cents, r2 AS r2_cents,
           CAST(r2 - r1 AS BIGINT) AS delta_cents,
           -- numerators are volume x revenue products: HUGEINT/decimal(38,0),
           -- published as exact digit strings (the priority-sampling
           -- pattern) — the 100x sweep measured them past int64
           CAST(CAST(q2 - q1 AS HUGEINT) * r1 AS VARCHAR) AS vol_num,
           CAST(CAST(greatest(q1, 1) AS HUGEINT) * r2
                - CAST(q2 AS HUGEINT) * r1 AS VARCHAR) AS price_num,
           CAST(greatest(q1, 1) AS BIGINT) AS den,
           CAST(CAST(q2 - q1 AS HUGEINT) * r1 AS DOUBLE) / greatest(q1, 1)
             AS volume_effect,
           CAST(CAST(greatest(q1, 1) AS HUGEINT) * r2
                - CAST(q2 AS HUGEINT) * r1 AS DOUBLE) / greatest(q1, 1)
             AS price_mix_effect
    FROM agg
    """,
)
def lineitem_pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge per brand between two years:
    exact-cents volumes/revenues, the Laspeyres volume and price/mix
    effects as exact rationals over the shared q1 denominator (their
    sum IS delta_cents — the waterfall identity, checkable row by row)
    and their one-division doubles.

    Scale: the fact scan prunes to two years at the parquet reader,
    joins the part dim (shuffle-hash — part grows with scale, unlike
    nation/region), and collapses map-side onto (brand, year) then
    brand keys; everything after the brand aggregate is per-row
    algebra on a bounded brand relation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(PVM_Y1, PVM_Y2)
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(part.hint("shuffle_hash"), li["l_partkey"] == part["p_partkey"]).select(
        "p_brand",
        F.year("l_shipdate").alias("y"),
        F.col("l_quantity").cast("long").alias("q"),
        (money("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    agg = j.groupBy("p_brand").agg(
        F.coalesce(F.sum(F.when(F.col("y") == PVM_Y1, F.col("q"))), F.lit(0))
        .cast("long")
        .alias("q1"),
        F.coalesce(F.sum(F.when(F.col("y") == PVM_Y2, F.col("q"))), F.lit(0))
        .cast("long")
        .alias("q2"),
        F.coalesce(F.sum(F.when(F.col("y") == PVM_Y1, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("r1"),
        F.coalesce(F.sum(F.when(F.col("y") == PVM_Y2, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("r2"),
    )
    den = F.greatest(F.col("q1"), F.lit(1))
    d38 = "decimal(38,0)"
    vol = (F.col("q2") - F.col("q1")).cast(d38) * F.col("r1")
    price = den.cast(d38) * F.col("r2") - F.col("q2").cast(d38) * F.col("r1")
    return agg.select(
        "p_brand",
        "q1",
        "q2",
        F.col("r1").alias("r1_cents"),
        F.col("r2").alias("r2_cents"),
        (F.col("r2") - F.col("r1")).cast("long").alias("delta_cents"),
        # exact digit strings: the products pass int64 two decades up
        # (100x sweep catch — same class as the ABC share widening)
        vol.cast(d38).cast("string").alias("vol_num"),
        price.cast(d38).cast("string").alias("price_num"),
        den.cast("long").alias("den"),
        (vol.cast("double") / den).alias("volume_effect"),
        (price.cast("double") / den).alias("price_mix_effect"),
    )


# ----------------------------------------------------- revenue Gini ----
#
# Concentration in ONE number next to the ABC table: the Gini
# coefficient of customer revenue, exact. With customers sorted
# ascending by cents and 1-based ranks,
#   G = (2 * sum(rank_i * x_i) - (n + 1) * sum(x)) / (n * sum(x)).
# Ranks come from the SAME banded two-phase decomposition as
# orders_pareto_abc (power-of-two cent bands + partitioned within-band
# row_number — no global sort); the rank-weighted sum accumulates in
# decimal(38,0) because rank * cents * n exceeds int64 two decades up
# (the ABC overflow lesson, applied preemptively).


@register(
    "orders_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS rnk
      FROM rev
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(rnk AS HUGEINT) * cents) AS HUGEINT) AS rank_wsum
      FROM ranked
    )
    SELECT n, total_cents,
           CAST(2 * rank_wsum - (n + 1) * CAST(total_cents AS HUGEINT) AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * total_cents AS DOUBLE) AS gini,
           CAST((1000 * (2 * rank_wsum - (n + 1) * CAST(total_cents AS HUGEINT)))
                // (CAST(n AS HUGEINT) * total_cents) AS BIGINT) AS gini_permille
    FROM s
    """,
)
def orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue (one row: n, total
    cents, gini double and its floor permille) — the single-number
    concentration companion to the ABC classification, computed with
    banded two-phase ranks so no global sort ever sees the customer
    relation.

    Scale: one customer-keyed aggregate; band prefix table <= 64 rows;
    within-band ranks are partitioned windows; the rank-weighted sum
    accumulates map-side in decimal(38,0)."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("cents")
    )
    banded = rev.withColumn("band", F.length(F.bin("cents")))
    bands = banded.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    wband = Window.partitionBy(F.lit(1)).orderBy(F.col("band").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = bands.select(
        "band",
        F.coalesce(F.sum("bn").over(wband), F.lit(0)).cast("long").alias("before_n"),
    )
    win = Window.partitionBy("band").orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    d38 = "decimal(38,0)"
    ranked = (
        banded.join(F.broadcast(pref), "band")
        .withColumn("rnk", (F.col("before_n") + F.row_number().over(win)).cast("long"))
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("rnk").cast(d38) * F.col("cents")).cast(d38).alias("rank_wsum"),
    )
    num = F.lit(2).cast(d38) * F.col("rank_wsum") - (
        (F.col("n") + 1).cast(d38) * F.col("total_cents")
    )
    den = F.col("n").cast(d38) * F.col("total_cents")
    return s.select(
        "n",
        "total_cents",
        (num.cast("double") / den.cast("double")).alias("gini"),
        F.expr(
            "CAST((CAST(1000 AS DECIMAL(38,0)) * (CAST(2 AS DECIMAL(38,0)) * rank_wsum"
            " - CAST(n + 1 AS DECIMAL(38,0)) * total_cents))"
            " div (CAST(n AS DECIMAL(38,0)) * total_cents) AS BIGINT)"
        ).alias("gini_permille"),
    )


# ------------------------------------------------- RFM segment migration ----
#
# The CRM question after segmentation: who MOVED? Customers are scored
# with the same fixed RFM policy bands in two halves of the history
# (orders before RFM_SPLIT scored as of the split; orders after scored
# as of RFM_AS_OF), and the (segment_from, segment_to) transition
# matrix — 'absent' for customers active in only one half — is the
# churn/winback readout a lifecycle team drives campaigns from. Fixed
# bands are what make the two periods comparable (quantile bands would
# re-center on each period and hide the drift).
RFM_SPLIT = "1999-01-01 00:00:00"

_RFM_SEG_SQL = """CASE WHEN r = 3 AND f = 3 THEN 'champion'
                WHEN r = 3 THEN 'recent'
                WHEN f = 3 THEN 'loyal_lapsing'
                WHEN r = 1 AND f = 1 THEN 'hibernating'
                ELSE 'regular' END"""


def _rfm_scored_sql(pred: str, as_of: str) -> str:
    return f"""
      SELECT o_custkey,
             CASE WHEN date_diff('day', MAX(o_orderdate), TIMESTAMP '{as_of}')
                       < {RFM_R_EDGES[0]} THEN 3
                  WHEN date_diff('day', MAX(o_orderdate), TIMESTAMP '{as_of}')
                       < {RFM_R_EDGES[1]} THEN 2 ELSE 1 END AS r,
             CASE WHEN COUNT(*) >= {RFM_F_EDGES[0]} THEN 3
                  WHEN COUNT(*) >= {RFM_F_EDGES[1]} THEN 2 ELSE 1 END AS f,
             CASE WHEN SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       >= {RFM_M_EDGES[0]} THEN 3
                  WHEN SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       >= {RFM_M_EDGES[1]} THEN 2 ELSE 1 END AS m
      FROM orders WHERE {pred} GROUP BY o_custkey"""


@register(
    "orders_rfm_migration",
    oracle=f"""
    WITH p1 AS ({_rfm_scored_sql(f"o_orderdate < TIMESTAMP '{RFM_SPLIT}'", RFM_SPLIT)}),
    p2 AS ({_rfm_scored_sql(f"o_orderdate >= TIMESTAMP '{RFM_SPLIT}'", RFM_AS_OF)}),
    s1 AS (SELECT o_custkey, {_RFM_SEG_SQL} AS seg FROM p1),
    s2 AS (SELECT o_custkey, {_RFM_SEG_SQL} AS seg FROM p2),
    matrix AS (
      SELECT COALESCE(s1.seg, 'absent') AS seg_from,
             COALESCE(s2.seg, 'absent') AS seg_to,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM s1 FULL OUTER JOIN s2 ON s2.o_custkey = s1.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS n FROM matrix)
    SELECT seg_from, seg_to, n_customers,
           CAST((1000000 * n_customers) // tot.n AS BIGINT) AS share_ppm,
           CAST(CASE WHEN seg_from = seg_to THEN 1 ELSE 0 END AS BIGINT) AS stable
    FROM matrix CROSS JOIN tot
    """,
)
def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segment transition matrix between the two halves of the
    order history (same fixed policy bands, per-period as-of dates):
    (segment_from, segment_to) customer counts with corpus share ppm
    and a stable flag, 'absent' rows capturing churn-in/churn-out —
    the lifecycle migration readout behind winback targeting.

    Scale: two filtered customer-keyed aggregates (year predicates
    reach the scan), one custkey full-outer shuffle-hash join, then a
    map-side collapse onto the <= 36-cell matrix; share algebra runs
    on the bounded matrix relation."""
    orders = load_table(spark, sf_dir, "orders")

    def scored(pred, as_of):
        pc = (
            orders.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.date_diff(F.lit(as_of).cast("timestamp"), F.max("o_orderdate")).alias(
                    "recency_days"
                ),
                F.count(F.lit(1)).cast("long").alias("frequency"),
                F.sum(money("o_totalprice")).alias("monetary"),
            )
        )
        r = (
            F.when(F.col("recency_days") < RFM_R_EDGES[0], 3)
            .when(F.col("recency_days") < RFM_R_EDGES[1], 2)
            .otherwise(1)
        )
        f_ = (
            F.when(F.col("frequency") >= RFM_F_EDGES[0], 3)
            .when(F.col("frequency") >= RFM_F_EDGES[1], 2)
            .otherwise(1)
        )
        seg = (
            F.when((r == 3) & (f_ == 3), F.lit("champion"))
            .when(r == 3, F.lit("recent"))
            .when(f_ == 3, F.lit("loyal_lapsing"))
            .when((r == 1) & (f_ == 1), F.lit("hibernating"))
            .otherwise(F.lit("regular"))
        )
        return pc.select("o_custkey", seg.alias("seg"))
    split_ts = F.lit(RFM_SPLIT).cast("timestamp")
    s1 = scored(F.col("o_orderdate") < split_ts, RFM_SPLIT).withColumnRenamed(
        "seg", "seg1"
    )
    s2 = scored(F.col("o_orderdate") >= split_ts, RFM_AS_OF).withColumnRenamed(
        "seg", "seg2"
    )
    matrix = (
        s1.join(
            s2.withColumnRenamed("o_custkey", "ck2").hint("shuffle_hash"),
            s1["o_custkey"] == F.col("ck2"),
            "full_outer",
        )
        .groupBy(
            F.coalesce("seg1", F.lit("absent")).alias("seg_from"),
            F.coalesce("seg2", F.lit("absent")).alias("seg_to"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    # the share total is a window over the <= 36-cell matrix (bounded
    # axis) instead of a separate aggregate + crossJoin back — r11 opt:
    # the old two-consumer shape re-ran both filtered aggregates + the
    # full-outer join just to count the total (4 order scans -> 2, the
    # intrinsic per-period pair)
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return matrix.select(
        "seg_from",
        "seg_to",
        "n_customers",
        F.expr("1000000 * n_customers")
        .cast("long")
        .alias("_num"),
        F.sum("n_customers").over(w_all).cast("long").alias("_n"),
    ).select(
        "seg_from",
        "seg_to",
        "n_customers",
        F.expr("_num div _n").cast("long").alias("share_ppm"),
        F.when(F.col("seg_from") == F.col("seg_to"), 1)
        .otherwise(0)
        .cast("long")
        .alias("stable"),
    )


# ------------------------------------------------ KMV / theta sketch ----
#
# K-minimum-values (theta) distinct sketch (Bar-Yossef et al. 2002;
# Dasgupta et al., "Theta Sketch Framework", 2016) — the OTHER
# mergeable-distinct sketch family next to the explicit-register HLL
# (approx_distinct_hll / approx_overlap_hll). Where HLL intersections
# go through inclusion-exclusion (error compounds), a theta sketch is a
# uniform hash SAMPLE of the key space below a threshold, so set
# algebra happens on the retained values themselves: union = values
# below min(theta_a, theta_b); intersection = retained values present
# in BOTH. Estimates are |retained| * M / theta on the shared md5_fp
# 60-bit lattice (M = 2^60) — every quantity here is integer-exact and
# identical across engines, so the oracle hash-matches the ESTIMATES,
# not just error flags. This is the unbounded-union variant (the
# retained union set is not re-capped at K; with per-group sketches
# <= K rows the union is <= 2K rows — the cap matters only for deep
# union chains, which approx_hll_daily_union covers).
KMV_K = 256
KMV_M = 1 << 60


@register(
    "approx_kmv_theta_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    sk AS (SELECT event_type, v, rn, n FROM ranked WHERE rn <= {KMV_K}),
    theta AS (
      SELECT event_type,
             CAST(MAX(n) AS BIGINT) AS n_exact,
             CASE WHEN MAX(n) >= {KMV_K} THEN MAX(v) ELSE {KMV_M} END AS theta,
             CASE WHEN MAX(n) >= {KMV_K}
                  THEN CAST((CAST({KMV_K - 1} AS HUGEINT) * {KMV_M}) // MAX(v) AS BIGINT)
                  ELSE CAST(MAX(n) AS BIGINT) END AS est_distinct
      FROM sk GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             LEAST(a.theta, b.theta) AS theta_u,
             a.est_distinct AS est_a, b.est_distinct AS est_b
      FROM theta a JOIN theta b ON a.event_type < b.event_type
    ),
    uni AS (
      SELECT p.ta, p.tb, p.theta_u, p.est_a, p.est_b,
             CAST(COUNT(DISTINCT s.v) AS BIGINT) AS n_union_retained,
             CAST(COUNT(DISTINCT CASE WHEN o2.v IS NOT NULL THEN s.v END)
                  AS BIGINT) AS n_common
      FROM pairs p
      JOIN sk s ON s.event_type IN (p.ta, p.tb) AND s.v < p.theta_u
      LEFT JOIN sk o2 ON o2.v = s.v
        AND o2.event_type = CASE WHEN s.event_type = p.ta THEN p.tb ELSE p.ta END
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT ta, tb, est_a, est_b, n_union_retained, n_common,
           CAST((CAST(n_union_retained AS HUGEINT) * {KMV_M}) // theta_u
                AS BIGINT) AS est_union,
           CAST((CAST(n_common AS HUGEINT) * {KMV_M}) // theta_u
                AS BIGINT) AS est_intersect
    FROM uni
    """,
)
def approx_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience set algebra on KMV/theta sketches: per
    event-type pair the per-side distinct estimates, the retained
    union-sample and common-value counts below the merged threshold,
    and the union / intersection estimates — all integer-exact on the
    md5_fp lattice, so the oracle checks the estimator itself.

    Scale: one scan collapses to DISTINCT (type, hash) map-side; the
    per-group K smallest survive a WindowGroupLimit-shaped rank (top-K
    ascending per group — partial per partition, never a global sort);
    everything after operates on <= K rows per group (the mergeable
    sketch property: ship K values per group, not the audience)."""
    from snackfs_spark.functions import md5_fp

    # the shared distinct-pair memo replaces a private events scan +
    # distinct; hashing after the dedup yields the identical value set
    # (md5_fp is a function of user_id), and the (type, v) distinct
    # below now deduplicates an already-collapsed relation
    h = type_user_pairs_df(spark, sf_dir).select(
        "event_type", md5_fp(F.col("user_id").cast("string")).alias("v")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("v")
    ranked = h.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    sk = ranked.filter(F.col("rn") <= KMV_K).localCheckpoint(eager=False)
    # estimate on the exact integer lattice: (K-1)*M div theta (decimal
    # legs — K*M exceeds int64; `div` truncates like DuckDB's //)
    theta = sk.groupBy("event_type").agg(
        F.when(F.max("n") >= KMV_K, F.max("v")).otherwise(F.lit(KMV_M)).alias("theta"),
        F.when(
            F.max("n") >= KMV_K,
            F.expr(
                f"CAST(CAST({KMV_K - 1} AS decimal(38,0)) * {KMV_M} AS decimal(38,0))"
                f" div CAST(max(v) AS decimal(38,0))"
            ),
        )
        .otherwise(F.max("n"))
        .cast("long")
        .alias("est_distinct"),
    )
    a = theta.alias("a")
    b = theta.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            F.least("a.theta", "b.theta").alias("theta_u"),
            F.col("a.est_distinct").alias("est_a"),
            F.col("b.est_distinct").alias("est_b"),
        )
    )
    s = sk.select("event_type", "v")
    both = sk.select(F.col("event_type").alias("bt"), F.col("v").alias("bv"))
    uni = pairs.join(
        F.broadcast(s),
        ((F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")))
        & (F.col("v") < F.col("theta_u")),
    )
    uni = (
        uni.join(
            F.broadcast(both),
            (F.col("bv") == F.col("v"))
            & (
                F.col("bt")
                == F.when(F.col("event_type") == F.col("ta"), F.col("tb")).otherwise(
                    F.col("ta")
                )
            ),
            "left",
        )
        .groupBy("ta", "tb", "theta_u", "est_a", "est_b")
        .agg(
            F.count_distinct("v").cast("long").alias("n_union_retained"),
            F.count_distinct(F.when(F.col("bv").isNotNull(), F.col("v")))
            .cast("long")
            .alias("n_common"),
        )
    )
    est = lambda c: F.expr(  # noqa: E731
        f"CAST(CAST({c} AS decimal(38,0)) * {KMV_M} AS decimal(38,0))"
        f" div CAST(theta_u AS decimal(38,0))"
    ).cast("long")
    return uni.select(
        "ta",
        "tb",
        "est_a",
        "est_b",
        "n_union_retained",
        "n_common",
        est("n_union_retained").alias("est_union"),
        est("n_common").alias("est_intersect"),
    )
