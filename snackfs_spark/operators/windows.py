"""Window-function operators (SURVEY.md §2.B Q-SUBOFF/Q-LOCK + the
star-schema window family): ranking, running totals, sessionization.

Windows over rows partition by a key (path / customer / order / user),
so state per partition stays bounded at 100 TB and the only shuffle is
the hash exchange on the partition key. The 5 windows with no
partitionBy rank a calendar axis (tenure days or months; SCALE.md
"Windows without `partitionBy`"): their input is bounded by the
calendar, not by the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import md5_bucket, money
from snackfs_spark.catalog import SnackCatalog
from snackfs_spark.functions import ts_str
from snackfs_spark.registry import register
from snackfs_spark.sources.fsmodel import content_df, fs_sql
from snackfs_spark.sources.tables import load_table


@register(
    "fs_suboff_prefix_sum",
    oracle=fs_sql(
        """SELECT path, block_idx, sub_idx,
                  CAST(COALESCE(SUM(length) OVER (
                    PARTITION BY path, block_idx ORDER BY sub_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS sub_start
           FROM content""",
        "content",
    ),
)
def fs_suboff_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-block start offsets as an exclusive running sum — the
    reference's scanLeft prefix-sum (BlockInputStream.scala:42-59) as an
    analytic window."""
    c = content_df(spark, sf_dir)
    w = (
        Window.partitionBy("path", "block_idx")
        .orderBy("sub_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return c.select(
        "path",
        "block_idx",
        "sub_idx",
        F.coalesce(F.sum("length").over(w), F.lit(0)).alias("sub_start"),
    )


@register(
    "fs_lock_arbitration",
    oracle=fs_sql(
        """SELECT path, holder, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts FROM (
             SELECT path, holder, ts,
                    ROW_NUMBER() OVER (PARTITION BY path ORDER BY ts, event_id) AS rn
             FROM locks
           ) WHERE rn = 1""",
        "locks",
    ),
)
def fs_lock_arbitration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lock winner per path = first attempt in time order — the
    createlock min-timeUUID arbitration (ThriftStore.scala:655-671) as a
    ranking window. event_id breaks ts ties deterministically."""
    return SnackCatalog(spark, sf_dir).lock_holders().withColumn("ts", ts_str("ts"))


@register(
    "win_first_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS first_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def win_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-LOCK's shape on the star schema: earliest order per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            ts_str("o_orderdate").alias("first_orderdate"),
        )
    )


@register(
    "win_running_order_total",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_extendedprice, l_partkey,
                               l_suppkey, l_quantity, l_discount
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_price
    FROM lineitem
    """,
)
def win_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-SUBOFF's shape on the star schema: cumulative extended price per
    order by line number (decimal accumulation for determinism).
    (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    the window order includes every column that varies among duplicates —
    otherwise the running sum is nondeterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey",
            "l_quantity", "l_discount",
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(money("l_extendedprice")).over(w).cast("double").alias("running_price"),
    )


@register(
    "win_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: 3 largest orders per customer. Rank-based, so at
    scale AQE + partial top-k (WindowGroupLimit) keep state small."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "sessionize_events",
    oracle="""
    SELECT user_id,
           COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap marks session starts with a 30-minute
    inactivity gap, then per-user session counts. The batch equivalent of
    streaming session windows (§2.D gap semantics).

    Scale shape (r2 bench regression fix): session ids are a running sum
    of `is_new`, so COUNT(DISTINCT session_id) == SUM(is_new) exactly —
    the second (running-sum) window and the count-distinct expand are
    algebraically redundant and dropped. One shuffle on user_id feeds the
    lag window, and the groupBy reuses that partitioning (zero further
    exchanges). The oracle keeps the independent COUNT(DISTINCT
    running-sum) formulation, so the identity itself is hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "asof_last_error_before_purchase",
    oracle="""
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           last_error_value FROM (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_error_value
      FROM events
    ) WHERE event_type = 'purchase'
    """,
)
def asof_last_error_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark has no native form of): for every
    purchase, the value of the user's most recent STRICTLY PRIOR error
    event. Implemented as the union-tag + last(ignorenulls) window — the
    standard composition that turns an as-of join into one partitioned
    window pass instead of a range join. Partition key = user: state and
    shuffle are bounded per user at any scale."""
    ev = load_table(spark, sf_dir, "events")
    err_val = F.when(F.col("event_type") == "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("last_error_value", F.last(err_val, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", ts_str("ts").alias("ts"), "last_error_value")
    )


@register(
    "win_trailing_30d_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_30d
    FROM orders
    """,
)
def win_trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based frame, §2.D frame-spec family):
    per customer, total order value in the trailing 30 days INCLUDING
    ties on the same timestamp — a range frame, not a row frame. Ordered
    on epoch seconds so both engines use identical frame arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("trailing_30d"),
    )


@register(
    "win_analytics_battery",
    oracle="""
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_analytics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function battery (§2.D frame-spec family): lag/lead,
    ntile, percent_rank, cume_dist, first/last_value with an explicit
    unbounded frame (last_value's default frame stops at CURRENT ROW —
    the classic trap — so the full frame is spelled out). One hash
    exchange on o_custkey serves every function; ordering includes the
    unique o_orderkey so all outputs are deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
    )


DEBOUNCE_SECS = 300  # drop repeats of (user, type) within 5 minutes


@register(
    "events_debounce",
    oracle=f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM (
      SELECT user_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= {DEBOUNCE_SECS} * 1000000
                  THEN 1 ELSE 0 END AS keep
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    GROUP BY user_id, event_type
    HAVING SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY user_id, event_type
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level telemetry dedup (debounce): a repeat of the same
    (user, event_type) within 5 minutes of the PREVIOUS event of that
    key is a duplicate signal (double-clicks, retry storms) and is
    dropped; reports keys that lost events. Completes the dedup family's
    granularity ladder: corpus → document → chunk → event. One lag
    window per key — a single hash exchange on (user, type), state
    O(1) per key; the identical incremental form runs as a stateful
    stream (keep last-kept-ts per key). Tie-break on event_id keeps the
    lag deterministic under equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # exact integer microseconds (unix_micros), matching the oracle's
    # epoch_us — double seconds would risk a ±ulp flip at an exactly-
    # 300s gap
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    keep = F.when(
        gap_us.isNull() | (gap_us >= DEBOUNCE_SECS * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.select("user_id", "event_type", keep.alias("keep"))
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.when(F.col("keep") == 0, 1).otherwise(0)).alias("n_dropped"),
        )
        .filter(F.col("n_dropped") > 0)
        .orderBy("user_id", "event_type")
    )


EWMA_K = 24          # truncation depth: terms beyond 24 lags are < 2^-25
EWMA_SHIFT = 1 << EWMA_K  # 2^24 — the fixed-point denominator


@register(
    "events_ewma_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, hour_start, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_start)
               AS pos
      FROM hourly
    )
    SELECT a.event_type,
           strftime(a.hour_start, '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           a.cents AS hourly_cents,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           (CAST(SUM(b.cents * (CAST(1 AS BIGINT)
                                << ({EWMA_K} - 1 - (a.pos - b.pos))))
                 AS DOUBLE) / {EWMA_SHIFT}) / 100 AS ewma
    FROM ser a JOIN ser b
      ON b.event_type = a.event_type
     AND a.pos - b.pos BETWEEN 0 AND {EWMA_K - 1}
    GROUP BY a.event_type, a.hour_start, a.cents, a.pos
    """,
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of each event
    type's hourly value series — the classic smoothing/trend operator,
    truncated at EWMA_K=24 lags (older terms weigh < 2^-25:
    below the fixture's cent resolution, and an explicit, documented
    part of the operator's contract — leading rows simply smooth over
    the history that exists).

    Determinism: an EWMA is a sum of fractional decay terms, and raw
    double accumulation is partition-order-dependent. With alpha = 1/2
    every weight is a power of two, so the WHOLE sum is computed in
    fixed-point integers: hourly totals become exact cents (decimal
    sum x 100), each lag-k term is cents << (K-1-k), and the bigint sum
    is rescaled once by 2^K x 100 — two IEEE-exact divisions. No
    lattice rounding at all: the EWMA is bit-exact in both engines at
    any partition count.

    Scale shape: the expensive relation (raw events) collapses FIRST to
    the hourly series via one map-side-combining aggregate; the EWMA's
    positional self-join then runs on the series relation (hours x
    types — ~1e4 rows per YEAR of data per type), co-partitioned on
    event_type. The join replaces a sequential per-row recurrence —
    which would serialize on a single partition — with a bounded-fanout
    (K rows per output) equi-join any executor count can share. The
    streaming twin is the same algebra under a sliding event-time
    window (streaming/ingest.py patterns)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    ser = hourly.withColumn("pos", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    a = ser.alias("a")
    b = ser.alias("b")
    lag = F.col("a.pos") - F.col("b.pos")
    term = F.col("b.cents") * F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {EWMA_K} - 1 - (a.pos - b.pos))"
    )
    return (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (lag >= 0)
            & (lag <= EWMA_K - 1),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            ts_str(F.col("a.hour_start")).alias("hour_start"),
            F.col("a.cents").alias("hourly_cents"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (
                (F.sum(term).cast("double") / F.lit(EWMA_SHIFT)) / F.lit(100)
            ).alias("ewma"),
        )
    )


# -------------------------------------------------- point-in-time join ----
#
# Feature-store correctness workhorse: join each fact row to the
# dimension VERSION valid at the fact's timestamp (no leakage from
# future versions, no stale reads past a change). The naive form is a
# non-equi range join (fact.ts BETWEEN valid_from AND valid_to) — a
# shuffle-heavy interval join at scale. The scalable Spark form used
# here is union + window: version rows and fact rows share one shuffle
# keyed by the entity, sorted by (ts, kind), and the valid attribute
# propagates forward with last(ignorenulls) — O(one shuffle), no range
# predicate. The DuckDB oracle IS the naive range join (valid_to via
# lead()), so the hash match is a cross-algorithm proof, not a mirror.

PIT_EPOCH = "1990-01-01"   # every entity's version-1 start
PIT_V2_BASE = "1996-01-01"  # bucketed entities change mid-history


@register(
    "pit_feature_join",
    oracle=f"""
    WITH versions AS (
      SELECT c_custkey, c_mktsegment AS seg, DATE '{PIT_EPOCH}' AS valid_from
      FROM customer
      UNION ALL
      SELECT c_custkey, 'NEW-' || c_mktsegment,
             DATE '{PIT_V2_BASE}' + INTERVAL (c_custkey % 48) MONTH
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 3 = 1
    ),
    ranged AS (
      SELECT c_custkey, seg, valid_from,
             COALESCE(lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from),
                      DATE '9999-12-31') AS valid_to
      FROM versions
    )
    SELECT r.seg AS seg_at_order,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN ranged r
      ON o.o_custkey = r.c_custkey
     AND CAST(o.o_orderdate AS DATE) >= r.valid_from
     AND CAST(o.o_orderdate AS DATE) <  r.valid_to
    GROUP BY r.seg, year(o.o_orderdate)
    """,
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join of orders against a versioned customer
    dimension, rolled up by the segment valid AT ORDER TIME x year.
    Implemented as union + per-entity window (ONE shuffle on custkey);
    the oracle is the equivalent range join — different algorithm, same
    answer. Version 2 rows are injected deterministically (md5 bucket,
    per-entity change date) so both leak directions are exercised."""
    from snackfs_spark.functions import dsum

    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select(
        F.col("c_custkey").alias("k"),
        F.lit(PIT_EPOCH).cast("date").alias("ts"),
        F.col("c_mktsegment").alias("seg"),
    )
    bucket3 = md5_bucket(F.col("c_custkey").cast("string"), 3)
    v2 = cust.filter(bucket3 == 1).select(
        F.col("c_custkey").alias("k"),
        F.add_months(F.lit(PIT_V2_BASE).cast("date"), F.col("c_custkey") % 48).alias(
            "ts"
        ),
        F.concat(F.lit("NEW-"), F.col("c_mktsegment")).alias("seg"),
    )
    versions = v1.unionByName(v2).select(
        "k", "ts", F.lit(0).alias("kind"), "seg", F.lit(None).cast("double").alias("price")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("ts"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("seg"),
        F.col("o_totalprice").alias("price"),
    )
    merged = versions.unionByName(orders)
    # version rows sort before fact rows on the same date (kind 0 < 1):
    # a version effective on the order date applies to that order
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_seg = merged.withColumn("seg_at", F.last("seg", ignorenulls=True).over(w))
    return (
        with_seg.filter(F.col("kind") == 1)
        .groupBy(
            F.col("seg_at").alias("seg_at_order"),
            F.year("ts").cast("long").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum(money("price"), "revenue"),
        )
    )


# ------------------------------------------------ multi-touch attribution ----
#
# Marketing-style attribution as a window/join workload: each purchase
# credits the user's clicks in the trailing 7 days under three standard
# models — first-touch, last-touch, and linear (credit split across all
# touchpoints). Scale shape: the touchpoint match is a user-keyed
# EQUI-join with a time filter (the sessionize shape — per-user event
# counts bound the pair fan-out; never a global range join), and each
# model then collapses to a channel-keyed rollup.
#
# Determinism: first/last picks use a lexicographic (epoch_us, event_id,
# channel) string key (portable argmax — struct/tuple MAX orderings are
# engine-specific); linear credit is computed on an INTEGER lattice
# (micro-cents, truncating div by the touch count) so the per-channel
# sums are bit-exact under any partitioning in both engines.

ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback, microseconds


@register(
    "events_attribution",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, epoch_us(ts) AS e, event_id,
             'ch' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS VARCHAR) AS channel
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS e, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    touched AS (
      SELECT p.event_id AS pid, p.cents, c.channel,
             lpad(CAST(c.e AS VARCHAR), 20, '0') || '|'
               || lpad(CAST(c.event_id AS VARCHAR), 12, '0') || '|' || c.channel AS ck
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id
       AND c.e <= p.e AND c.e > p.e - {ATTR_WINDOW_US}
    ),
    per_purchase AS (
      SELECT pid, cents,
             MIN(ck) AS first_ck, MAX(ck) AS last_ck,
             CAST(COUNT(*) AS BIGINT) AS n_touch
      FROM touched GROUP BY pid, cents
    ),
    linear_credit AS (
      SELECT t.channel,
             SUM((pp.cents * 10000) // pp.n_touch) AS micro
      FROM touched t JOIN per_purchase pp ON pp.pid = t.pid
      GROUP BY t.channel
    ),
    ft AS (
      SELECT split_part(first_ck, '|', 3) AS channel,
             CAST(COUNT(*) AS BIGINT) AS n_first,
             CAST(SUM(cents) AS BIGINT) AS ft_cents
      FROM per_purchase GROUP BY 1
    ),
    lt AS (
      SELECT split_part(last_ck, '|', 3) AS channel,
             CAST(COUNT(*) AS BIGINT) AS n_last,
             CAST(SUM(cents) AS BIGINT) AS lt_cents
      FROM per_purchase GROUP BY 1
    )
    SELECT lc.channel,
           COALESCE(ft.n_first, 0) AS n_first,
           CAST(COALESCE(ft.ft_cents, 0) AS DOUBLE) / 100.0e0 AS first_touch_revenue,
           COALESCE(lt.n_last, 0) AS n_last,
           CAST(COALESCE(lt.lt_cents, 0) AS DOUBLE) / 100.0e0 AS last_touch_revenue,
           CAST(lc.micro AS BIGINT) AS linear_micro,
           CAST(lc.micro AS DOUBLE) / 1000000.0e0 AS linear_revenue
    FROM linear_credit lc
    LEFT JOIN ft ON ft.channel = lc.channel
    LEFT JOIN lt ON lt.channel = lc.channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: purchases credit trailing-7-day clicks
    per user under first-touch, last-touch, and linear models. Every
    channel that touched at least one purchase appears (linear credit is
    the anchor); first/last columns are zero-filled where that model
    never picked the channel."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("e"),
        "event_id",
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("long") % 5).cast("string"),
        ).alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("pe"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ck = F.concat(
        F.lpad(F.col("e").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.lit("|"),
        F.col("channel"),
    )
    touched = (
        purchases.join(clicks, purchases["p_user"] == clicks["user_id"])
        .filter((F.col("e") <= F.col("pe")) & (F.col("e") > F.col("pe") - ATTR_WINDOW_US))
        .select("pid", "cents", "channel", ck.alias("ck"))
        .localCheckpoint(eager=False)
    )
    per_purchase = touched.groupBy("pid", "cents").agg(
        F.min("ck").alias("first_ck"),
        F.max("ck").alias("last_ck"),
        F.count(F.lit(1)).cast("long").alias("n_touch"),
    )
    linear = (
        touched.join(per_purchase.select("pid", "n_touch"), "pid")
        .groupBy("channel")
        .agg(
            F.sum(
                F.floor((F.col("cents") * 10000) / F.col("n_touch")).cast("long")
            ).alias("micro")
        )
    )
    chan_of = lambda col: F.substring_index(F.col(col), "|", -1)
    ft = per_purchase.groupBy(chan_of("first_ck").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first"),
        F.sum("cents").cast("long").alias("ft_cents"),
    )
    lt = per_purchase.groupBy(chan_of("last_ck").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last"),
        F.sum("cents").cast("long").alias("lt_cents"),
    )
    return (
        linear.join(ft, "channel", "left")
        .join(lt, "channel", "left")
        .select(
            "channel",
            F.coalesce(F.col("n_first"), F.lit(0)).cast("long").alias("n_first"),
            (F.coalesce(F.col("ft_cents"), F.lit(0)).cast("double") / 100.0).alias(
                "first_touch_revenue"
            ),
            F.coalesce(F.col("n_last"), F.lit(0)).cast("long").alias("n_last"),
            (F.coalesce(F.col("lt_cents"), F.lit(0)).cast("double") / 100.0).alias(
                "last_touch_revenue"
            ),
            F.col("micro").cast("long").alias("linear_micro"),
            (F.col("micro").cast("double") / 1000000.0).alias("linear_revenue"),
        )
    )


# Trailing-window distinct counting. Spark has no COUNT(DISTINCT) OVER
# a sliding frame (and a collect_set-over-window implementation holds
# the whole user set per row — memory-quadratic on hot windows). The
# declarative alternative: a user covers window-end day e iff they have
# an event in [e-W+1, e]; per (type, user) merge event days into
# islands separated by gaps > W-1 (an island [s, t] covers ends
# [s, t+W-1]), convert islands to ±1 boundary deltas, and a prefix sum
# over the per-type day axis materializes every window's distinct count
# in one bounded window pass. State per shuffle key is days-per-user
# (bounded by the calendar), never the user universe.
SLIDING_DISTINCT_DAYS = 7


@register(
    "win_sliding_distinct_users",
    oracle=f"""
    WITH pd AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT event_type, day FROM pd)
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM days d
    JOIN pd p ON p.event_type = d.event_type
             AND p.day BETWEEN d.day - {SLIDING_DISTINCT_DAYS - 1} AND d.day
    GROUP BY d.event_type, d.day
    """,
)
def win_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per event type, for every
    observed day — the rolling-DAU/WAU shape. The oracle recomputes each
    window from scratch with a range self-join + COUNT(DISTINCT); the
    engine never does either (cross-algorithm check): it merges per-user
    day islands and prefix-sums their ±1 coverage deltas.

    Scale: one (type, user, day) dedup shuffle over the fact, one
    (type, user) window whose partitions hold ≤ calendar-days rows, then
    everything collapses onto the (type, day) lattice — aggregate and
    prefix-sum state is |types| × |days|, scale-free in users and
    events. The classic per-window COUNT(DISTINCT) re-touches every
    event W times; this touches each once."""
    pd_ = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
        # feeds the island merge AND the observed-day axis —
        # unchckpointed each re-ran the event scan + dedup shuffle
        # (r11 opt)
        .localCheckpoint(eager=False)
    )
    return sliding_distinct_counts(pd_, SLIDING_DISTINCT_DAYS)


def sliding_distinct_counts(pd_: DataFrame, w: int) -> DataFrame:
    """Core islands + ±1-delta + prefix-sum machinery over a distinct
    (event_type, day, user_id) relation — split out so the sparse-day
    edge cases are unit-testable on in-memory frames."""
    seq = Window.partitionBy("event_type", "user_id").orderBy("day")
    islands = (
        pd_.withColumn("prev", F.lag("day").over(seq))
        .withColumn(
            "newgrp",
            F.when(
                F.col("prev").isNull()
                | (F.datediff("day", F.col("prev")) > w - 1),
                1,
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("newgrp").over(seq))
        .groupBy("event_type", "user_id", "grp")
        .agg(F.min("day").alias("s"), F.max("day").alias("t"))
    )
    # |types| x |days| rows; feeds the zero-delta axis AND the final
    # report join (r11 opt: checkpointed so neither re-runs the dedup)
    observed = (
        pd_.select("event_type", "day").distinct().localCheckpoint(eager=False)
    )
    # The prefix-sum axis must contain EVERY day the output reports, not
    # just island boundaries: an observed day in the middle of a long
    # island has no ±1 delta of its own, and a boundary-only axis would
    # silently drop it from the inner join below (code-review r5c). The
    # observed days ride along with net 0.
    deltas = (
        islands.select("event_type", F.col("s").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            islands.select(
                "event_type", F.date_add("t", w).alias("day"), F.lit(-1).alias("d")
            )
        )
        .unionAll(observed.select("event_type", "day", F.lit(0).alias("d")))
    )
    axis = deltas.groupBy("event_type", "day").agg(F.sum("d").alias("net"))
    run = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    counts = axis.withColumn("n_users", F.sum("net").over(run))
    return (
        counts.join(observed, ["event_type", "day"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


# Seasonality: day-of-week x hour-of-day profile. The dow derivation is
# deliberately portable — days since the Monday epoch 2024-01-01, mod 7
# (0 = Monday) — because Spark's dayofweek() and DuckDB's dayofweek()
# disagree on both origin and numbering. The seasonal-naive error is
# |count - count same cell last week| summed over successive OBSERVED
# weeks of the cell (on this corpus every cell observes every week; in
# general, gap weeks are skipped by construction in BOTH engines).
SEASON_EPOCH = "2024-01-01"


@register(
    "events_seasonal_profile",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '{SEASON_EPOCH}') AS d,
             hour(ts) AS hr
      FROM events
    ),
    -- pre-epoch events make d negative; dow = ((d%7)+7)%7 is the
    -- portable non-negative band (DESIGN.md rule 5), and wk divides the
    -- already-dow-aligned d exactly, so trunc-vs-floor cannot diverge
    pw AS (
      SELECT event_type, ((d % 7) + 7) % 7 AS dow, hr,
             (d - (((d % 7) + 7) % 7)) // 7 AS wk,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c GROUP BY 1, 2, 3, 4
    ),
    lagd AS (
      SELECT *, LAG(n) OVER (PARTITION BY event_type, dow, hr ORDER BY wk) AS pn
      FROM pw
    ),
    cell AS (
      SELECT event_type, dow, hr AS hour,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(COALESCE(SUM(abs(n - pn)), 0) AS BIGINT) AS naive_abs_err
      FROM lagd GROUP BY 1, 2, 3
    )
    SELECT event_type, dow, hour, n,
           CAST((1000000 * n) // SUM(n) OVER (PARTITION BY event_type)
                AS BIGINT) AS share_ppm,
           naive_abs_err
    FROM cell
    """,
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day seasonal profile per event type:
    exact cell counts, each cell's ppm share of its type, and the
    seasonal-naive week-over-week absolute error (the integer substrate
    of a seasonality strength score — strong weekly seasonality shows
    as low naive_abs_err relative to n).

    Scale: ONE fact scan collapses map-side onto the
    |types| x 7 x 24 x |weeks| lattice; everything after (lag window,
    per-type totals, shares) is arithmetic over that bounded relation —
    post-aggregation state is calendar-bounded, scale-free in events."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit(SEASON_EPOCH).cast("date")).alias("d"),
        F.hour("ts").alias("hr"),
    )
    pw = (
        ev.select(
            "event_type",
            F.expr("((d % 7) + 7) % 7").alias("dow"),
            "hr",
            F.expr("(d - (((d % 7) + 7) % 7)) div 7").alias("wk"),
        )
        .groupBy("event_type", "dow", "hr", "wk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wlag = Window.partitionBy("event_type", "dow", "hr").orderBy("wk")
    cell = (
        pw.withColumn("pn", F.lag("n").over(wlag))
        .groupBy("event_type", "dow", F.col("hr").alias("hour"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.coalesce(F.sum(F.abs(F.col("n") - F.col("pn"))), F.lit(0))
            .cast("long")
            .alias("naive_abs_err"),
        )
    )
    wtype = Window.partitionBy("event_type")
    return (
        cell.withColumn("_tot", F.sum("n").over(wtype))
        .withColumn(
            # exact int64 division — a double quotient rounding up to the
            # next integer would silently diverge from DuckDB's `//`
            "share_ppm",
            F.expr("(1000000 * n) div _tot").cast("long"),
        )
        .select("event_type", "dow", "hour", "n", "share_ppm", "naive_abs_err")
    )


@register(
    "events_new_vs_returning",
    oracle="""
    WITH pd AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
    ),
    firsts AS (
      SELECT event_type, user_id, MIN(day) AS first_day FROM pd GROUP BY 1, 2
    ),
    active AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS active FROM pd GROUP BY 1, 2
    ),
    news AS (
      SELECT event_type, first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1, 2
    )
    SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day, a.active,
           COALESCE(n.new_users, 0) AS new_users,
           a.active - COALESCE(n.new_users, 0) AS returning,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
             PARTITION BY a.event_type ORDER BY a.day
           ) AS BIGINT) AS cum_users
    FROM active a
    LEFT JOIN news n ON n.event_type = a.event_type AND n.day = a.day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active-user decomposition per event type: active = distinct
    users that day, new = users on their first-ever day for that type,
    returning = the difference, plus the cumulative lifetime user curve
    (prefix sum of new_users) — the growth-accounting table every
    product dashboard carries, derived without re-scanning history per
    day.

    Scale: one (type, user, day) dedup shuffle, one (type, user) min
    (map-side combinable), then everything lives on the (type, day)
    lattice — the per-day distinct the naive version recomputes against
    all history collapses into first-occurrence flags touched once."""
    pd_ = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    firsts = pd_.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    active = pd_.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("active")
    )
    news = firsts.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        active.join(news, ["event_type", "day"], "left")
        .withColumn("new_users", F.coalesce(F.col("new_users"), F.lit(0)).cast("long"))
        .withColumn("returning", (F.col("active") - F.col("new_users")).cast("long"))
        .withColumn("cum_users", F.sum("new_users").over(run).cast("long"))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active",
            "new_users",
            "returning",
            "cum_users",
        )
    )


# ------------------------------------------------------ CUSUM changepoint ----
#
# One-sided CUSUM (Page 1954), the classic sequential changepoint
# statistic, over the per-type hourly event series:
#
#   S_t = max(0, S_{t-1} + (x_t - k))        alarm iff S_t >= h
#
# The recursion looks inherently sequential, but the positive-part CUSUM
# has a closed prefix form: S_t = P_t - min_{j<=t} P_j where
# P_t = sum_{i<=t} (x_i - k) — so one running sum plus one running MIN
# over the same window turns the "stateful scan" into two built-in
# window aggregates. This is the changepoint complement of
# events_rate_anomaly (which flags level vs a trailing baseline; CUSUM
# accumulates small persistent shifts a point detector misses).
#
# Exactness: x is a count and the drift k is the rounded per-type mean
# rate, so every statistic is int64; the alarm threshold is h = 4*k
# (in count units), a declared constant multiple.
CUSUM_H_MULT = 4


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    k AS (
      SELECT event_type,
             CAST((SUM(x) + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS drift
      FROM hourly GROUP BY event_type
    ),
    pre AS (
      SELECT h.event_type, h.hour, h.x, k.drift,
             CAST(SUM(h.x - k.drift) OVER w AS BIGINT) AS p
      FROM hourly h JOIN k USING (event_type)
      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, x, drift,
           CAST(p - LEAST(MIN(p) OVER w, 0) AS BIGINT) AS cusum,
           CAST(CASE WHEN p - LEAST(MIN(p) OVER w, 0) >= 4 * drift
                     THEN 1 ELSE 0 END AS INT) AS alarm
    FROM pre
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly CUSUM changepoint scan: S_t = max(0, S_{t-1} +
    x_t - drift) with drift = the rounded per-type mean hourly rate,
    alarming when the accumulated excess reaches CUSUM_H_MULT drifts.
    The sequential recursion is computed CLOSED-FORM as
    P_t - min(0, min_{j<=t} P_j) — a running sum and a running min, two
    built-in window aggregates, no stateful scan.

    Scale: the fact collapses map-side onto the (type, hour) calendar
    lattice before any window runs; both windows partition by type over
    that bounded relation, so post-aggregation work is calendar-sized
    regardless of corpus. All statistics are exact int64 (counts and a
    rounded integer drift)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    k = hourly.groupBy("event_type").agg(
        F.expr("(sum(x) + count(1) div 2) div count(1)").cast("long").alias("drift")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = hourly.join(k.hint("shuffle_hash"), "event_type").withColumn(
        "p", F.sum(F.col("x") - F.col("drift")).over(w).cast("long")
    )
    cusum = (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).cast("long")
    return pre.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "x",
        "drift",
        cusum.alias("cusum"),
        (cusum >= CUSUM_H_MULT * F.col("drift")).cast("int").alias("alarm"),
    )


# ----------------------------------------------------- watermark audit ----
#
# The planning query behind every Structured Streaming watermark choice:
# how much data would each candidate delay actually drop? Event time is
# the fixture's ts; arrival order is event time plus a deterministic
# per-event ingest jitter (md5(event_id) % 1h — a synthetic but
# reproducible network/queue delay, the same md5 convention as every
# other derived column). An event is LATE by (high-water-mark - its
# event time) where the high-water mark is the max event time among
# events that ARRIVED before it — exactly the quantity a watermark of
# delay W compares against. Computing per-event lateness ONCE and then
# taking conditional counts per candidate turns the what-if sweep into
# a single aggregate — no per-candidate pass, no crossjoin fan-out.
WM_JITTER_SECS = 3600
WM_CANDIDATES_SECS = (300, 900, 3600)  # 5m / 15m / 1h


@register(
    "events_watermark_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, event_id, epoch_us(ts) AS t_us,
             epoch_us(ts) + 1000000 * (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % {WM_JITTER_SECS})
               AS a_us
      FROM events
    ),
    lateness AS (
      SELECT event_type,
             GREATEST(
               COALESCE(MAX(t_us) OVER (PARTITION BY event_type
                                        ORDER BY a_us, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), t_us) - t_us,
               0) AS late_us
      FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disordered,
           CAST(SUM(CASE WHEN late_us > {WM_CANDIDATES_SECS[0]}000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_5m,
           CAST(SUM(CASE WHEN late_us > {WM_CANDIDATES_SECS[1]}000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_15m,
           CAST(SUM(CASE WHEN late_us > {WM_CANDIDATES_SECS[2]}000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
           CAST((1000 * SUM(CASE WHEN late_us > {WM_CANDIDATES_SECS[0]}000000 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
             AS late_5m_permille
    FROM lateness GROUP BY event_type
    """,
)
def events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark what-if audit: per event type, how many events a
    5m / 15m / 1h watermark would drop as too-late, from per-event
    lateness against the arrival-ordered high-water mark (event time +
    deterministic md5 ingest jitter as arrival). The table that picks
    `withWatermark`'s delay for streaming_hourly_rollup's production
    deployment: the smallest candidate whose drop rate is acceptable.

    Scale: ONE type-partitioned ordered window computes lateness (the
    sessionize cost class — state is a single running max per type);
    all candidates then collapse in ONE map-side conditional-count
    aggregate onto |types| keys. No per-candidate pass, no fan-out."""
    from snackfs_spark.functions import md5_fp

    ev = load_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        (
            F.unix_micros("ts")
            + 1_000_000 * (md5_fp(F.col("event_id").cast("string")) % WM_JITTER_SECS)
        ).alias("a_us"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("a_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = arr.select(
        "event_type",
        F.greatest(
            F.coalesce(F.max("t_us").over(w), F.col("t_us")) - F.col("t_us"),
            F.lit(0).cast("long"),
        ).alias("late_us"),
    )
    cands = [c * 1_000_000 for c in WM_CANDIDATES_SECS]
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("int")).cast("long").alias("n_disordered"),
        F.sum((F.col("late_us") > cands[0]).cast("int")).cast("long").alias("n_late_5m"),
        F.sum((F.col("late_us") > cands[1]).cast("int")).cast("long").alias("n_late_15m"),
        F.sum((F.col("late_us") > cands[2]).cast("int")).cast("long").alias("n_late_1h"),
        F.expr(
            f"(1000 * sum(CAST(late_us > {cands[0]} AS INT))) div count(1)"
        )
        .cast("long")
        .alias("late_5m_permille"),
    )


# ---------------------------------------------------- rate-limit audit ----
#
# The abuse/throttling what-if: under a "max RATE_CAP events per user
# per trailing hour" policy, which event would have been throttled?
# Per event, the exact count of that user's events in the trailing
# 3600 s (inclusive) via a RANGE window over epoch seconds — the frame
# both engines define identically on integers — then one conditional
# rollup per event type. The per-user trailing count is the same state
# a stateful streaming throttler keeps; this is its offline audit twin.
RATE_CAP = 20  # events per trailing hour


@register(
    "events_rate_limit_audit",
    oracle=f"""
    WITH win AS (
      SELECT event_type, user_id,
             CAST(COUNT(*) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts) // 1000000
                                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS w_cnt
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN w_cnt > {RATE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_throttled,
           CAST(MAX(w_cnt) AS BIGINT) AS max_window_count,
           CAST(COUNT(DISTINCT CASE WHEN w_cnt > {RATE_CAP} THEN user_id END)
                AS BIGINT) AS n_users_throttled,
           CAST((1000 * SUM(CASE WHEN w_cnt > {RATE_CAP} THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS throttled_permille
    FROM win GROUP BY event_type
    """,
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour rate-cap audit: per event type, how many events
    exceed RATE_CAP-per-user-per-hour (exact RANGE-frame count over
    epoch seconds), the worst observed window, and the distinct users
    affected — the offline twin of a stateful streaming throttler,
    sized before the policy ships.

    Scale: ONE user-keyed ordered window (the sessionize cost class;
    RANGE state is bounded by one user's events-per-hour, not the
    corpus) followed by one map-side conditional rollup onto |types|
    keys. No per-candidate pass; the cap compare is codegen."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr("unix_micros(ts) div 1000000"))
        .rangeBetween(-3600, 0)
    )
    win = ev.select(
        "event_type",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("w_cnt"),
    )
    throttled = (F.col("w_cnt") > RATE_CAP).cast("int")
    return win.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(throttled).cast("long").alias("n_throttled"),
        F.max("w_cnt").cast("long").alias("max_window_count"),
        F.count_distinct(
            F.when(F.col("w_cnt") > RATE_CAP, F.col("user_id"))
        )
        .cast("long")
        .alias("n_users_throttled"),
        F.expr(f"(1000 * sum(CAST(w_cnt > {RATE_CAP} AS INT))) div count(1)")
        .cast("long")
        .alias("throttled_permille"),
    )

# ------------------------------------------------------- bot detection ----
#
# Rule-based abuse triage composing three exact per-user signals,
# each thresholded against a CORPUS-DERIVED baseline (fixed absolute
# thresholds stop discriminating the day traffic shape changes — the
# data-derived-knob lesson from PCY applied to triage):
#   rate:        event count above the corpus mean events-per-user
#                (n_events * n_users > total_events)
#   regular:     inter-arrival gap variance-to-mean below the pooled
#                corpus VMR (cross-multiplied rationals in
#                decimal(38,0) — no float ever compared)
#   concentrated: top event type exceeding its uniform share
#                (|types| * max_type_count > n_events)
# The 8-cell rule-combination contingency with user/event volume per
# cell is the triage table an abuse team reads to pick the compound
# rule worth shipping.
BOT_MIN_EVENTS = 10  # rules evaluated only for users with >= 10 events


@register(
    "events_bot_detection",
    oracle=f"""
    WITH g AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec,
             event_type,
             epoch_us(ts) // 1000000
               - LAG(epoch_us(ts) // 1000000)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS gap_sum,
             CAST(SUM(gap * gap) AS BIGINT) AS gap_sq
      FROM g GROUP BY user_id
    ),
    top_share AS (
      SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_type_count
      FROM (SELECT user_id, event_type, COUNT(*) AS c
            FROM g GROUP BY user_id, event_type)
      GROUP BY user_id
    ),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_events) AS BIGINT) AS total_events,
             CAST(SUM(n_gaps) AS HUGEINT) AS all_ng,
             CAST(SUM(gap_sum) AS HUGEINT) AS all_gs,
             CAST(SUM(gap_sq) AS HUGEINT) AS all_gq
      FROM per_user
    ),
    flagged AS (
      SELECT p.user_id, p.n_events,
             CASE WHEN p.n_events * c.n_users > c.total_events
                  THEN 1 ELSE 0 END AS rule_rate,
             CASE WHEN p.n_gaps > 0 AND p.gap_sum > 0
                       AND (CAST(p.n_gaps AS HUGEINT) * p.gap_sq
                            - CAST(p.gap_sum AS HUGEINT) * p.gap_sum)
                           * (c.all_ng * c.all_gs)
                         < (c.all_ng * c.all_gq - c.all_gs * c.all_gs)
                           * (CAST(p.n_gaps AS HUGEINT) * p.gap_sum)
                  THEN 1 ELSE 0 END AS rule_regular,
             CASE WHEN p.n_types * t.max_type_count > p.n_events
                  THEN 1 ELSE 0 END AS rule_concentrated
      FROM per_user p
      JOIN top_share t ON t.user_id = p.user_id
      CROSS JOIN corpus c
      WHERE p.n_events >= {BOT_MIN_EVENTS}
    )
    SELECT rule_rate, rule_regular, rule_concentrated,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM flagged GROUP BY 1, 2, 3
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-triage contingency: users with >= BOT_MIN_EVENTS events are
    scored on three exact corpus-relative rules (above-mean rate,
    more-regular-than-pooled gap VMR via cross-multiplied decimal(38,0)
    rationals, type share above uniform) and rolled up into the 8-cell
    rule-combination table with user and event volume per cell.

    Scale: ONE user-keyed ordered window (the lag gap — sessionize
    cost class), two map-side-combinable aggregates (per-user and
    per-(user, type) -> max), a 1-row broadcast corpus baseline, and
    an 8-key rollup. Every comparison is exact integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("unix_micros(ts) div 1000000")
    g = ev.select(
        "user_id",
        sec.alias("sec"),
        "event_type",
        (sec - F.lag(sec).over(w)).alias("gap"),
    )
    g = g.localCheckpoint(eager=False)  # feeds per_user AND top_share
    per_user = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count("gap").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("gap_sum"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("gap_sq"),
    )
    per_user = per_user.localCheckpoint(eager=False)  # feeds corpus AND flagged
    top_share = (
        g.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").cast("long").alias("max_type_count"))
    )
    d38 = "decimal(38,0)"
    corpus = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.sum("n_gaps").cast(d38).alias("all_ng"),
        F.sum("gap_sum").cast(d38).alias("all_gs"),
        F.sum("gap_sq").cast(d38).alias("all_gq"),
    )
    p_var = (
        F.col("n_gaps").cast(d38) * F.col("gap_sq")
        - F.col("gap_sum").cast(d38) * F.col("gap_sum")
    )
    c_var = F.col("all_ng") * F.col("all_gq") - F.col("all_gs") * F.col("all_gs")
    flagged = (
        per_user.filter(F.col("n_events") >= BOT_MIN_EVENTS)
        .join(top_share.hint("shuffle_hash"), "user_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "n_events",
            (F.col("n_events") * F.col("n_users") > F.col("total_events"))
            .cast("int")
            .alias("rule_rate"),
            (
                (F.col("n_gaps") > 0)
                & (F.col("gap_sum") > 0)
                & (
                    p_var * (F.col("all_ng") * F.col("all_gs"))
                    < c_var * (F.col("n_gaps").cast(d38) * F.col("gap_sum"))
                )
            )
            .cast("int")
            .alias("rule_regular"),
            (F.col("n_types") * F.col("max_type_count") > F.col("n_events"))
            .cast("int")
            .alias("rule_concentrated"),
        )
    )
    return flagged.groupBy("rule_rate", "rule_regular", "rule_concentrated").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


# ------------------------------------------------ difference-in-differences ----
#
# The classic quasi-experimental readout (Card-Krueger design): treated
# users = users whose PRE-period 'purchase' count sits strictly above
# the per-user mean (the exact integer compare c_i * n_users > total,
# no float mean; exposure defined strictly pre-boundary, so the cohort
# cannot be selected on its outcome); outcome = 'click' volume per
# user-group per period; the
# DiD estimate is the treated pre->post rate change minus the control
# change. The period boundary is derived IN-PLAN as the midpoint of the
# observed time span (integer microseconds), so the operator is
# parameter-free and deterministic on any slice of the events table.
#
# Everything is exact integer algebra: per-cell click counts over fixed
# group denominators (group SIZE, not active users — the standard
# intent-to-treat denominator), and the estimate as the exact rational
# did_num/did_den = (dT_clicks*nC - dC_clicks*nT) / (nT*nC), emitted
# also as its one-division correctly-rounded double per engine.


@register(
    "events_diff_in_diff",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
    ),
    b AS (
      SELECT CAST(MIN(t_us) + (MAX(t_us) - MIN(t_us)) // 2 AS BIGINT) AS cut
      FROM ev
    ),
    tagged AS (
      SELECT user_id, event_type,
             CASE WHEN t_us >= cut THEN 'post' ELSE 'pre' END AS period
      FROM ev CROSS JOIN b
    ),
    pre_purch AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM tagged
      WHERE event_type = 'purchase' AND period = 'pre'
      GROUP BY user_id
    ),
    universe AS (SELECT DISTINCT user_id FROM ev),
    mstats AS (
      SELECT CAST((SELECT COUNT(*) FROM universe) AS BIGINT) AS n_all,
             CAST((SELECT COALESCE(SUM(c), 0) FROM pre_purch) AS BIGINT) AS total_pre
    ),
    users AS (
      SELECT u.user_id,
             CASE WHEN COALESCE(p.c, 0) * m.n_all > m.total_pre
                  THEN 1 ELSE 0 END AS treated
      FROM universe u
      LEFT JOIN pre_purch p USING (user_id)
      CROSS JOIN mstats m
    ),
    sizes AS (
      SELECT treated, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM users GROUP BY treated
    ),
    clicks AS (
      SELECT u.treated, g.period, CAST(COUNT(*) AS BIGINT) AS n_clicks
      FROM tagged g JOIN users u USING (user_id)
      WHERE g.event_type = 'click'
      GROUP BY u.treated, g.period
    ),
    cells AS (
      SELECT s.treated, p.period, s.n_users,
             CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks
      FROM sizes s
      CROSS JOIN (SELECT unnest(['pre', 'post']) AS period) p
      LEFT JOIN clicks c ON c.treated = s.treated AND c.period = p.period
    ),
    did AS (
      SELECT
        CAST(  (SUM(CASE WHEN treated = 1 AND period = 'post' THEN n_clicks ELSE 0 END)
              - SUM(CASE WHEN treated = 1 AND period = 'pre'  THEN n_clicks ELSE 0 END))
             * MAX(CASE WHEN treated = 0 THEN n_users END)
             - (SUM(CASE WHEN treated = 0 AND period = 'post' THEN n_clicks ELSE 0 END)
              - SUM(CASE WHEN treated = 0 AND period = 'pre'  THEN n_clicks ELSE 0 END))
             * MAX(CASE WHEN treated = 1 THEN n_users END)
           AS BIGINT) AS did_num,
        CAST(MAX(CASE WHEN treated = 1 THEN n_users END)
             * MAX(CASE WHEN treated = 0 THEN n_users END) AS BIGINT) AS did_den
      FROM cells
    )
    SELECT cells.treated, cells.period, cells.n_users, cells.n_clicks,
           CAST((1000000 * cells.n_clicks) // cells.n_users AS BIGINT) AS rate_ppm,
           did.did_num, did.did_den,
           CAST(did.did_num AS DOUBLE) / CAST(did.did_den AS DOUBLE) AS did_estimate
    FROM cells CROSS JOIN did
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the events stream: treated = users
    with above-mean pre-period 'purchase' intensity (exact integer
    compare, no float mean), outcome = 'click' volume per period;
    four intent-to-treat cells (group-size denominators) plus the exact
    rational DiD estimate (did_num/did_den) and its one-division double.

    Scale: ONE user-keyed exchange carries everything (optimization r11,
    guide §2.4 "two operations keyed the same way share one exchange"):
    the event scan collapses map-side onto per-user partial counts of
    (pre purchases, pre clicks, post clicks) — the prior shape shuffled
    the user dimension four times (pre-purchase aggregate, DISTINCT
    universe, treated-flag join, click-cell join); all four are columns
    of the same per-user aggregate. Every relation after that single
    aggregate is <= 4 rows, so the cell lattice and DiD algebra are
    bounded-relation crossJoins by construction."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    b = ev.agg(
        (F.min("t_us") + F.expr("(MAX(t_us) - MIN(t_us)) div 2")).cast("long").alias("cut")
    )
    is_post = F.col("t_us") >= F.col("cut")
    per_user = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                ((F.col("event_type") == "purchase") & ~is_post).cast("long")
            ).alias("c"),
            F.sum(
                ((F.col("event_type") == "click") & ~is_post).cast("long")
            ).alias("clicks_pre"),
            F.sum(
                ((F.col("event_type") == "click") & is_post).cast("long")
            ).alias("clicks_post"),
        )
        .localCheckpoint(eager=False)  # feeds mstats AND the cell rollup
    )
    mstats = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("total_pre"),
    )
    grouped = (
        per_user.crossJoin(F.broadcast(mstats))
        .select(
            F.when(F.col("c") * F.col("n_all") > F.col("total_pre"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("treated"),
            "clicks_pre",
            "clicks_post",
        )
        .groupBy("treated")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("clicks_pre").cast("long").alias("pre_clicks"),
            F.sum("clicks_post").cast("long").alias("post_clicks"),
        )
    )
    periods = spark.range(1).select(
        F.explode(F.array(F.lit("pre"), F.lit("post"))).alias("period")
    )
    cells = grouped.crossJoin(F.broadcast(periods)).select(
        "treated",
        "period",
        "n_users",
        F.when(F.col("period") == "post", F.col("post_clicks"))
        .otherwise(F.col("pre_clicks"))
        .cast("long")
        .alias("n_clicks"),
    )
    did = cells.agg(
        (
            (
                F.sum(F.when((F.col("treated") == 1) & (F.col("period") == "post"), F.col("n_clicks")).otherwise(0))
                - F.sum(F.when((F.col("treated") == 1) & (F.col("period") == "pre"), F.col("n_clicks")).otherwise(0))
            )
            * F.max(F.when(F.col("treated") == 0, F.col("n_users")))
            - (
                F.sum(F.when((F.col("treated") == 0) & (F.col("period") == "post"), F.col("n_clicks")).otherwise(0))
                - F.sum(F.when((F.col("treated") == 0) & (F.col("period") == "pre"), F.col("n_clicks")).otherwise(0))
            )
            * F.max(F.when(F.col("treated") == 1, F.col("n_users")))
        )
        .cast("long")
        .alias("did_num"),
        (
            F.max(F.when(F.col("treated") == 1, F.col("n_users")))
            * F.max(F.when(F.col("treated") == 0, F.col("n_users")))
        )
        .cast("long")
        .alias("did_den"),
    )
    return cells.crossJoin(F.broadcast(did)).select(
        "treated",
        "period",
        "n_users",
        "n_clicks",
        F.expr("(1000000 * n_clicks) div n_users").cast("long").alias("rate_ppm"),
        "did_num",
        "did_den",
        (F.col("did_num").cast("double") / F.col("did_den").cast("double")).alias("did_estimate"),
    )


# ------------------------------------------------- conversion lag ----
#
# Time-to-convert: per user the FIRST 'signup' and the FIRST 'purchase'
# at-or-after it; the lag distribution is read out as p50/p90/p99 at
# hour-bin precision from a bounded histogram — the same sort-free
# order-statistic pattern as events_quantiles_binned (the span of the
# events table is bounded in hours, so the histogram relation is
# bounded and the quantile is a prefix-sum lookup, never a corpus
# sort). Quantile rank k = ceil(q * n_converted / 100), exact integer.
LAG_BIN_S = 3600  # hour bins
LAG_QUANTILES = (50, 90, 99)


@register(
    "events_conversion_lag",
    oracle=f"""
    WITH su AS (
      SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
      FROM events e JOIN su ON su.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
      GROUP BY e.user_id
    ),
    lags AS (
      SELECT su.user_id, (pu.p_us - su.s_us) // 1000000 AS lag_s
      FROM su JOIN pu ON pu.user_id = su.user_id
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT) AS n_users,
             CAST((SELECT COUNT(*) FROM su) AS BIGINT) AS n_signup,
             CAST((SELECT COUNT(*) FROM lags) AS BIGINT) AS n_converted
    ),
    hist AS (
      SELECT lag_s // {LAG_BIN_S} AS bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM lags GROUP BY 1
    ),
    cum AS (
      SELECT bin, CAST(SUM(n) OVER (ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
      FROM hist
    ),
    qs AS (
      SELECT q, CAST((q * tot.n_converted + 99) // 100 AS BIGINT) AS k,
             tot.n_users, tot.n_signup, tot.n_converted
      FROM (SELECT unnest([{", ".join(str(q) for q in LAG_QUANTILES)}]) AS q)
      CROSS JOIN tot
    )
    SELECT qs.q, qs.k,
           CAST(MIN(cum.bin) AS BIGINT) AS lag_bin,
           CAST(MIN(cum.bin) * {LAG_BIN_S} AS BIGINT) AS lag_lo_s,
           qs.n_users, qs.n_signup, qs.n_converted,
           CAST((1000 * qs.n_converted) // qs.n_signup AS BIGINT)
             AS conversion_permille
    FROM qs JOIN cum ON cum.cum_n >= qs.k
    GROUP BY qs.q, qs.k, qs.n_users, qs.n_signup, qs.n_converted
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase conversion lag: per quantile (p50/p90/p99 at
    hour-bin precision) the exact rank k and lag bin, plus the funnel
    totals (users, signups, converted, conversion permille) — the
    time-to-value readout next to the step-count funnel.

    Scale: two user-keyed min-aggregates (the signup anchor joins back
    shuffle-hash), lags collapse onto the bounded hour histogram, and
    every quantile is a prefix-sum lookup over that bounded relation —
    the events_quantiles_binned posture, no sort of the lag relation."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    # ONE user-keyed aggregate over ALL users anchors everything (r11
    # session 3): n_users = its row count, the signup anchor = its
    # non-null s_us rows, n_signup = the non-null count — previously the
    # anchor, the distinct-user funnel total and the purchase join each
    # re-scanned events (3 scans + a count_distinct shuffle -> 2 scans,
    # the second being the purchase-side filter that MUST join back).
    base = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("t_us"))
            ).alias("s_us")
        )
        .localCheckpoint(eager=False)
    )
    su = base.filter(F.col("s_us").isNotNull())
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su.hint("shuffle_hash"), "user_id")
        .filter(F.col("t_us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("p_us"))
    )
    lags = (
        su.join(pu.hint("shuffle_hash"), "user_id")
        .select(F.expr(f"(p_us - s_us) div 1000000").alias("lag_s"))
        .localCheckpoint(eager=False)
    )
    tot = (
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("s_us").cast("long").alias("n_signup"),
        )
        .crossJoin(lags.agg(F.count(F.lit(1)).cast("long").alias("n_converted")))
    )
    hist = lags.groupBy(F.expr(f"lag_s div {LAG_BIN_S}").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wcum = Window.partitionBy(F.lit(1)).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("bin", F.sum("n").over(wcum).cast("long").alias("cum_n"))
    qs = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(q) for q in LAG_QUANTILES])).alias("q")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "q",
            F.expr("(q * n_converted + 99) div 100").cast("long").alias("k"),
            "n_users",
            "n_signup",
            "n_converted",
        )
    )
    return (
        F.broadcast(qs)
        .join(cum, F.col("cum_n") >= F.col("k"))
        .groupBy("q", "k", "n_users", "n_signup", "n_converted")
        .agg(
            F.min("bin").cast("long").alias("lag_bin"),
            (F.min("bin") * LAG_BIN_S).cast("long").alias("lag_lo_s"),
        )
        .select(
            "q",
            "k",
            "lag_bin",
            "lag_lo_s",
            "n_users",
            "n_signup",
            "n_converted",
            F.expr("(1000 * n_converted) div n_signup")
            .cast("long")
            .alias("conversion_permille"),
        )
    )


# ---------------------------------------------------- cohort LTV curve ----
#
# Customer lifetime value by acquisition cohort: customers grouped by
# FIRST-order year, revenue accumulated by account age in years — the
# (cohort, age) triangle every subscription/commerce dashboard draws,
# as exact decimal cents with the cumulative per-customer LTV one
# integer division away. Complements events_cohort_retention (activity)
# with the revenue dimension.


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(year(o_orderdate)) AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_year
    ),
    cells AS (
      SELECT f.cohort_year,
             CAST(year(o.o_orderdate) - f.cohort_year AS BIGINT) AS age,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY f.cohort_year, year(o.o_orderdate) - f.cohort_year
    )
    SELECT c.cohort_year, c.age, s.cohort_size, c.n_orders, c.revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (PARTITION BY c.cohort_year
                 ORDER BY c.age ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (PARTITION BY c.cohort_year
                 ORDER BY c.age ROWS UNBOUNDED PRECEDING) // s.cohort_size
                AS BIGINT) AS cum_ltv_cents_per_customer
    FROM cells c JOIN sizes s ON s.cohort_year = c.cohort_year
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: per (first-order-year cohort, account age in
    years) the order count, exact revenue cents, the cumulative cohort
    revenue, and cumulative LTV per customer — the revenue companion to
    the activity retention matrix.

    Scale: one customer-keyed first-order aggregate, one shuffle-hash
    join back to the fact scan, map-side collapse onto the bounded
    (cohort, age) triangle; the cumulative windows partition by cohort
    over <= years rows."""
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    sizes = firsts.groupBy("cohort_year").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        orders.join(firsts.hint("shuffle_hash"), "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).cast("long").alias("age"),
        )
        .agg(
            (F.sum(money("o_totalprice")) * 100).cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    wc = Window.partitionBy("cohort_year").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_year")
        .withColumn("cum_revenue_cents", F.sum("revenue_cents").over(wc).cast("long"))
        .select(
            "cohort_year",
            "age",
            "cohort_size",
            "n_orders",
            "revenue_cents",
            "cum_revenue_cents",
            F.expr("cum_revenue_cents div cohort_size")
            .cast("long")
            .alias("cum_ltv_cents_per_customer"),
        )
    )


# ------------------------------------------------ survival analysis ----
#
# Kaplan-Meier survival for time-to-first-purchase: duration = days from
# a user's first event to their first 'purchase' (the "death"); users
# who never purchase are right-censored at their last observed day.
# S(t) = prod over death-days d <= t of (1 - deaths_d / at_risk_d). The
# product is an ORDERED left fold of per-step double factors (each an
# IEEE correctly-rounded division of two exact int64 counts), evaluated
# by both engines over the same day-ascending list — bit-identical
# without any log/exp detour.


@register(
    "events_survival_km",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS DATE) AS d FROM events
    ),
    pu AS (SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
           FROM ev GROUP BY user_id),
    fp AS (SELECT user_id, MIN(d) AS purch_d FROM ev
           WHERE event_type = 'purchase' GROUP BY user_id),
    u AS (
      SELECT COALESCE(date_diff('day', first_d, purch_d),
                      date_diff('day', first_d, last_d)) AS dur,
             CASE WHEN purch_d IS NULL THEN 1 ELSE 0 END AS cen
      FROM pu LEFT JOIN fp USING (user_id)
    ),
    grid AS (
      SELECT dur,
             CAST(SUM(1 - cen) AS BIGINT) AS deaths,
             CAST(SUM(cen) AS BIGINT) AS censored_n,
             CAST(COUNT(*) AS BIGINT) AS ends
      FROM u GROUP BY dur
    ),
    g2 AS (
      SELECT dur, deaths, censored_n,
             CAST(SUM(ends) OVER (ORDER BY dur DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS at_risk
      FROM grid
    ),
    packed AS (
      SELECT list(struct_pack(dur := dur, at_risk := at_risk,
                              deaths := deaths, censored_n := censored_n)
                  ORDER BY dur) AS arr
      FROM g2 WHERE deaths > 0
    ),
    withf AS (
      SELECT arr,
             list_transform(arr,
               s -> CAST(s.at_risk - s.deaths AS DOUBLE) / s.at_risk) AS farr
      FROM packed
    )
    SELECT unnest(list_transform(arr, (s, i) -> struct_pack(
             duration_days := CAST(s.dur AS BIGINT),
             at_risk := s.at_risk,
             deaths := s.deaths,
             censored_n := s.censored_n,
             survival := list_reduce(list_slice(farr, 1, i), (a, x) -> a * x))),
           recursive := true)
    FROM withf
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: per
    death-day, the at-risk count (suffix sum over the day grid), deaths
    (users converting that day), right-censored count (users who never
    purchase, censored at their last observed day), and the KM survival
    estimate as an ordered product of per-step factors.

    Scale: ONE event scan collapses map-side onto (user) twice (overall
    bounds + first purchase), then onto the duration-day grid, which is
    bounded by the CALENDAR SPAN (days), not the corpus — every window
    and fold after the user aggregates runs on that bounded relation,
    and the unpartitioned suffix-sum window is safe for the same reason
    (<= days-in-window rows). The survival fold is per-row over a
    <= |grid| factor list."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("d")
    )
    # ONE user-keyed aggregate carries all three anchors (first event,
    # last event, first purchase as a conditional min) — the old
    # pu ⋈ fp shape scanned events twice and shuffled the user dimension
    # twice just to left-join the purchase min back (r11 opt, the
    # events_conversion_lag fold; null-free users have purch_d = NULL
    # exactly as the left join produced).
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min("d").alias("first_d"),
            F.max("d").alias("last_d"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("d"))
            ).alias("purch_d"),
        )
        .select(
            F.coalesce(
                F.datediff("purch_d", "first_d"), F.datediff("last_d", "first_d")
            ).alias("dur"),
            F.when(F.col("purch_d").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("cen"),
        )
    )
    grid = u.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("cen")).cast("long").alias("deaths"),
        F.sum("cen").cast("long").alias("censored_n"),
        F.count(F.lit(1)).cast("long").alias("ends"),
    )
    w_suffix = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g2 = grid.withColumn("at_risk", F.sum("ends").over(w_suffix).cast("long"))
    packed = (
        g2.filter(F.col("deaths") > 0)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("dur", "at_risk", "deaths", "censored_n"))
            ).alias("arr")
        )
        .withColumn(
            "farr",
            F.expr(
                "transform(arr, s -> CAST(s.at_risk - s.deaths AS DOUBLE)"
                " / s.at_risk)"
            ),
        )
    )
    return packed.select(
        F.posexplode("arr").alias("i0", "s"), F.col("farr")
    ).select(
        F.col("s.dur").cast("long").alias("duration_days"),
        F.col("s.at_risk").alias("at_risk"),
        F.col("s.deaths").alias("deaths"),
        F.col("s.censored_n").alias("censored_n"),
        F.expr(
            "aggregate(slice(farr, 1, i0 + 1), CAST(1.0 AS DOUBLE),"
            " (a, x) -> a * x)"
        ).alias("survival"),
    )


# ------------------------------------------------ Holt forecasting ----
#
# Holt's linear-trend exponential smoothing over the monthly revenue
# series — the classic FP&A forecast readout. State recursion (t >= 2):
#   l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
#   b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
# with DYADIC coefficients (a = 0.5, g = 0.25) so every multiply is an
# exact halving/quartering and the whole trace is a sequence of IEEE
# correctly-rounded + * ops. Both engines run the SAME left fold over
# the SAME month-ascending list (Spark `aggregate` with explicit init =
# [[y_1, 0]], DuckDB `list_reduce` whose first element IS that init),
# so the state trace is bit-identical — no libm, no decimal casts.
HOLT_ALPHA = "0.5"
HOLT_GAMMA = "0.25"


@register(
    "orders_holt_linear_forecast",
    oracle=f"""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    packed AS (
      SELECT list(struct_pack(m := month, yc := yc) ORDER BY month) AS arr
      FROM m
    ),
    folded AS (
      SELECT arr,
             list_reduce(
               list_transform(arr, s -> [[CAST(s.yc AS DOUBLE), 0.0]]),
               (acc, e) -> list_append(acc, [
                 {HOLT_ALPHA} * e[1][1]
                   + (1 - {HOLT_ALPHA}) * (acc[-1][1] + acc[-1][2]),
                 {HOLT_GAMMA} * (({HOLT_ALPHA} * e[1][1]
                   + (1 - {HOLT_ALPHA}) * (acc[-1][1] + acc[-1][2]))
                   - acc[-1][1])
                   + (1 - {HOLT_GAMMA}) * acc[-1][2]
               ])) AS trace
      FROM packed
    )
    SELECT unnest(list_transform(arr, (s, i) -> struct_pack(
             month := s.m,
             revenue_cents := s.yc,
             level := trace[i][1],
             trend := trace[i][2],
             forecast_next := trace[i][1] + trace[i][2])),
           recursive := true)
    FROM folded
    """,
)
def orders_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of monthly order revenue:
    per month the exact cents total, the smoothed level and trend
    state, and the one-step-ahead forecast (level + trend) — the
    engine-side forecasting readout behind revenue planning.

    Scale: ONE order scan collapses map-side onto the month grid
    (bounded by the CALENDAR, not the corpus); the fold runs once over
    that <= |months| list on one row. revenue cents ride the int64
    lattice (9.2e16 dollars of monthly headroom); the smoothing trace
    is dyadic-coefficient double arithmetic, deterministic in both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.sum((money("o_totalprice") * 100).cast("long")).cast("long").alias("yc")
    )
    packed = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "yc"))).alias("arr")
    )
    a, g = HOLT_ALPHA, HOLT_GAMMA
    lvl = f"element_at(element_at(acc, -1), 1)"
    trd = f"element_at(element_at(acc, -1), 2)"
    lnew = f"({a}D * e + (1 - {a}D) * ({lvl} + {trd}))"
    folded = packed.withColumn(
        "trace",
        F.expr(
            f"""aggregate(
                 slice(transform(arr, s -> CAST(s.yc AS DOUBLE)), 2,
                       size(arr) - 1),
                 array(array(CAST(element_at(arr, 1).yc AS DOUBLE),
                             CAST(0.0 AS DOUBLE))),
                 (acc, e) -> array_append(acc, array(
                   {lnew},
                   {g}D * ({lnew} - {lvl}) + (1 - {g}D) * {trd}
                 )))"""
        ),
    )
    return folded.select(
        F.posexplode("arr").alias("i0", "s"), F.col("trace")
    ).select(
        F.col("s.month").alias("month"),
        F.col("s.yc").alias("revenue_cents"),
        F.expr("element_at(element_at(trace, i0 + 1), 1)").alias("level"),
        F.expr("element_at(element_at(trace, i0 + 1), 2)").alias("trend"),
        F.expr(
            "element_at(element_at(trace, i0 + 1), 1)"
            " + element_at(element_at(trace, i0 + 1), 2)"
        ).alias("forecast_next"),
    )


# ------------------------------------------------ open-order backlog ----
#
# Operational backlog curve: how many orders are OPEN (placed, not yet
# fully received) in each calendar month. The naive form is an interval
# -stabbing join (months x orders); the scalable form used here is the
# sweep decomposition: per order ONE +1 delta at its open month and ONE
# -1 delta at the month AFTER its completion (max l_shipdate over
# its lineitems), collapsed map-side onto the month grid, then a single
# prefix sum over the CALENDAR-bounded axis. The axis is generated as
# the full month sequence (min open .. max completion + 1), so months
# with zero activity still report (the rule-8 prefix-sum-axis lesson).


@register(
    "orders_open_backlog",
    oracle="""
    WITH comp AS (
      SELECT l_orderkey, MAX(l_shipdate) AS done FROM lineitem
      GROUP BY l_orderkey
    ),
    o AS (
      -- clamp: a completion month before the open month (possible when
      -- ship dates are not order-correlated) would make the sweep's -1
      -- land before its +1 and transiently undercount; an order is open
      -- for AT LEAST its own open month
      SELECT date_trunc('month', o.o_orderdate) AS om,
             greatest(date_trunc('month', COALESCE(c.done, o.o_orderdate)),
                      date_trunc('month', o.o_orderdate)) AS cm
      FROM orders o LEFT JOIN comp c ON c.l_orderkey = o.o_orderkey
    ),
    bounds AS (
      SELECT MIN(om) AS lo, MAX(cm) + INTERVAL 1 MONTH AS hi FROM o
    ),
    axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m
      FROM bounds
    ),
    opened AS (SELECT om AS m, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY om),
    completed AS (SELECT cm AS m, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY cm)
    SELECT strftime(a.m, '%Y-%m') AS month,
           CAST(COALESCE(op.n, 0) AS BIGINT) AS n_opened,
           CAST(COALESCE(cp.n, 0) AS BIGINT) AS n_completed,
           CAST(SUM(COALESCE(op.n, 0)) OVER w
                - COALESCE(SUM(COALESCE(cp.n, 0)) OVER (
                    ORDER BY a.m ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS backlog
    FROM axis a
    LEFT JOIN opened op ON op.m = a.m
    LEFT JOIN completed cp ON cp.m = a.m
    WINDOW w AS (ORDER BY a.m ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly open-order backlog: per calendar month the orders placed,
    the orders completing (last lineitem shipped), and the running
    count of open orders — the interval-stabbing count decomposed into
    two map-side delta aggregates plus one prefix sum over the bounded
    month axis (an order is open from its open month through its
    completion month inclusive).

    Scale: ONE lineitem scan collapses map-side onto order keys (the
    max-receipt aggregate), one order-keyed shuffle-hash join (both
    sides corpus-proportional and co-keyed — never broadcast), then
    everything collapses onto the CALENDAR month grid; the
    unpartitioned prefix-sum window is safe because the axis is
    calendar-bounded, not corpus-bounded. The naive months x orders
    stabbing join this replaces is what the oracle-side test recounts."""
    li = load_table(spark, sf_dir, "lineitem")
    comp = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done"))
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            comp.withColumnRenamed("l_orderkey", "o_orderkey").hint("shuffle_hash"),
            "o_orderkey",
            "left",
        )
        .select(
            F.date_trunc("month", "o_orderdate").alias("om"),
            # clamped: open for at least the open month (see oracle note)
            F.greatest(
                F.date_trunc("month", F.coalesce("done", "o_orderdate")),
                F.date_trunc("month", "o_orderdate"),
            ).alias("cm"),
        )
    )
    # collapse onto the bounded (open month, close month) grid FIRST —
    # <= |months|^2 rows, checkpointed: the axis bounds and both delta
    # aggregates derive from it (r11 opt: previously each of the three
    # consumers re-ran the lineitem scan + order join)
    og = (
        o.groupBy("om", "cm")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bounds = og.agg(
        F.min("om").alias("lo"), F.add_months(F.max("cm"), 1).alias("hi")
    )
    axis = bounds.select(
        F.explode(
            F.expr("sequence(lo, cast(hi as timestamp), interval 1 month)")
        ).alias("m")
    )
    opened = og.groupBy(F.col("om").alias("m")).agg(
        F.sum("c").cast("long").alias("n_op")
    )
    completed = og.groupBy(F.col("cm").alias("m")).agg(
        F.sum("c").cast("long").alias("n_cp")
    )
    w_cur = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    w_prev = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    return (
        axis.join(opened, "m", "left")
        .join(completed, "m", "left")
        .select(
            "m",
            F.coalesce("n_op", F.lit(0)).cast("long").alias("n_opened"),
            F.coalesce("n_cp", F.lit(0)).cast("long").alias("n_completed"),
        )
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "n_opened",
            "n_completed",
            (
                F.sum("n_opened").over(w_cur)
                - F.coalesce(F.sum("n_completed").over(w_prev), F.lit(0))
            )
            .cast("long")
            .alias("backlog"),
        )
    )


# --------------------------------------------------- AR-style aging ----
#
# Point-in-time aging report: at the reference month (the corpus max
# order month), bucket the currently-OPEN orders (same open/completion
# semantics as orders_open_backlog, completion = max lineitem shipdate
# clamped >= open) by how many months they have been open — the
# accounts-receivable-style "0-1 / 2-3 / 4-6 / 7+" exposure table, with
# order counts and exact cents value per bucket.


@register(
    "orders_ar_aging",
    oracle="""
    WITH comp AS (
      SELECT l_orderkey, MAX(l_shipdate) AS done FROM lineitem
      GROUP BY l_orderkey
    ),
    o AS (
      SELECT date_trunc('month', o.o_orderdate) AS om,
             greatest(date_trunc('month', COALESCE(c.done, o.o_orderdate)),
                      date_trunc('month', o.o_orderdate)) AS cm,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o LEFT JOIN comp c ON c.l_orderkey = o.o_orderkey
    ),
    ref AS (SELECT MAX(om) AS r FROM o),
    open_now AS (
      SELECT datediff('month', om, r) AS age, cents
      FROM o CROSS JOIN ref WHERE om <= r AND cm >= r
    )
    SELECT CASE WHEN age <= 1 THEN '0-1'
                WHEN age <= 3 THEN '2-3'
                WHEN age <= 6 THEN '4-6'
                ELSE '7+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM open_now GROUP BY 1
    """,
)
def orders_ar_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging of open orders at the reference month: bucket counts and
    exact cents value for 0-1 / 2-3 / 4-6 / 7+ months open — the
    point-in-time exposure companion to the orders_open_backlog time
    series.

    Scale: the same two map-side collapses as the backlog sweep (one
    lineitem max per order, one order-keyed shuffle-hash join), then a
    1-row reference broadcast and a <= 4-key bucket aggregate; cents
    ride the int64 lattice."""
    li = load_table(spark, sf_dir, "lineitem")
    comp = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done"))
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            comp.withColumnRenamed("l_orderkey", "o_orderkey").hint("shuffle_hash"),
            "o_orderkey",
            "left",
        )
        .select(
            F.date_trunc("month", "o_orderdate").alias("om"),
            F.greatest(
                F.date_trunc("month", F.coalesce("done", "o_orderdate")),
                F.date_trunc("month", "o_orderdate"),
            ).alias("cm"),
            (money("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    ref = o.agg(F.max("om").alias("r"))
    open_now = (
        o.crossJoin(F.broadcast(ref))
        .filter((F.col("om") <= F.col("r")) & (F.col("cm") >= F.col("r")))
        .select(
            F.months_between("r", "om").cast("long").alias("age"), "cents"
        )
    )
    return open_now.select(
        F.when(F.col("age") <= 1, "0-1")
        .when(F.col("age") <= 3, "2-3")
        .when(F.col("age") <= 6, "4-6")
        .otherwise("7+")
        .alias("age_bucket"),
        "cents",
    ).groupBy("age_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


# ------------------------------------------- conformance audit ----
#
# Process-mining conformance checking: score each user's event stream
# against the funnel process model signup(0) < view(1) < click(2) <
# purchase(3) — WITHIN a session (the 30-minute-gap rule shared with
# sessionize_events) the stage rank must be non-decreasing; 'error'
# events are neutral (skipped, not breaking adjacency). One row per
# worst-conforming user: transition and violation counts plus the
# conformance ppm — the audit that finds broken instrumentation or
# replayed/bot traffic where the descriptive Markov matrix only shows
# aggregate flow.
CONFORM_GAP_S = 1800
CONFORM_TOP = 25
_STAGE_RANK_SQL = (
    "CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1 "
    "WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 END"
)


@register(
    "events_conformance_audit",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             {_STAGE_RANK_SQL} AS stage
      FROM events WHERE event_type <> 'error'
    ),
    seq AS (
      SELECT user_id,
             LAG(t_us) OVER w AS prev_t,
             LAG(stage) OVER w AS prev_stage,
             t_us, stage
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ),
    trans AS (
      SELECT user_id,
             CASE WHEN prev_t IS NOT NULL
                  AND t_us - prev_t <= {CONFORM_GAP_S} * 1000000
                  THEN 1 ELSE 0 END AS in_session,
             CASE WHEN prev_t IS NOT NULL
                  AND t_us - prev_t <= {CONFORM_GAP_S} * 1000000
                  AND stage < prev_stage
                  THEN 1 ELSE 0 END AS viol
      FROM seq
    )
    SELECT user_id,
           CAST(SUM(in_session) AS BIGINT) AS n_transitions,
           CAST(SUM(viol) AS BIGINT) AS n_violations,
           CAST((1000000 * (SUM(in_session) - SUM(viol)))
                // NULLIF(SUM(in_session), 0) AS BIGINT) AS conformance_ppm
    FROM trans
    GROUP BY user_id
    HAVING SUM(in_session) > 0
    QUALIFY ROW_NUMBER() OVER (
      ORDER BY SUM(viol) DESC, user_id) <= {CONFORM_TOP}
    """,
)
def events_conformance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {CONFORM_TOP} worst-conforming users against the funnel
    process model: within-session (30-min gap) stage-rank regressions
    counted per user, with the conformance ppm.

    Scale: one user-partitioned lag window (the sessionize_events
    shuffle, state = one previous row), a map-side user rollup, and a
    TakeOrderedAndProject top-k — no global sort, no rule-table join
    (the model compiles to codegen CASE arithmetic)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t_us"),
            F.expr(_STAGE_RANK_SQL).alias("stage"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("t_us").over(w).alias("prev_t"),
        F.lag("stage").over(w).alias("prev_stage"),
        "t_us",
        "stage",
    )
    in_sess = F.col("prev_t").isNotNull() & (
        F.col("t_us") - F.col("prev_t") <= CONFORM_GAP_S * 1_000_000
    )
    trans = seq.select(
        "user_id",
        F.when(in_sess, 1).otherwise(0).alias("in_session"),
        F.when(in_sess & (F.col("stage") < F.col("prev_stage")), 1)
        .otherwise(0)
        .alias("viol"),
    )
    per_user = (
        trans.groupBy("user_id")
        .agg(
            F.sum("in_session").cast("long").alias("n_transitions"),
            F.sum("viol").cast("long").alias("n_violations"),
        )
        .filter(F.col("n_transitions") > 0)
        .select(
            "user_id",
            "n_transitions",
            "n_violations",
            F.expr(
                "(1000000 * (n_transitions - n_violations)) div n_transitions"
            )
            .cast("long")
            .alias("conformance_ppm"),
        )
    )
    return per_user.orderBy(
        F.col("n_violations").desc(), F.col("user_id")
    ).limit(CONFORM_TOP)


# --------------------------------- seasonal-naive forecast + MASE ----
#
# Seasonal-naive forecasting with MASE (Hyndman & Koehler 2006) over
# the monthly revenue series: forecast_t = y_{t-12} (same month last
# year), scored by the Mean Absolute SCALED Error — the seasonal
# forecast's mean |error| divided by the in-sample mean |error| of the
# one-step random-walk naive (y_{t-1}), the denominator that makes the
# score unit-free and comparable across series. MASE < 1e6 ppm means
# seasonality beats the random walk. Companion to
# orders_holt_linear_forecast (trend smoothing) — this is the
# seasonality benchmark every fancier model must beat. All error sums
# are exact int64 cents; the final ratio is cross-multiplied on
# decimal(38,0)/HUGEINT legs and floored to ppm.
SN_LAG = 12  # months


@register(
    "orders_seasonal_naive_mase",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT MIN(mo) AS lo, MAX(mo) AS hi FROM m),
    axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS mo
      FROM bounds
    ),
    y AS (
      SELECT a.mo, CAST(COALESCE(m.yc, 0) AS BIGINT) AS yc
      FROM axis a LEFT JOIN m ON m.mo = a.mo
    ),
    lagged AS (
      SELECT mo, yc,
             LAG(yc, {SN_LAG}) OVER (ORDER BY mo) AS fc,
             LAG(yc, 1) OVER (ORDER BY mo) AS prev
      FROM y
    ),
    scale AS (
      SELECT CAST(SUM(CASE WHEN fc IS NOT NULL THEN abs(yc - fc) END)
                  AS BIGINT) AS num,
             CAST(COUNT(fc) AS BIGINT) AS cn,
             CAST(SUM(CASE WHEN prev IS NOT NULL THEN abs(yc - prev) END)
                  AS BIGINT) AS den,
             CAST(COUNT(prev) AS BIGINT) AS cd
      FROM lagged
    )
    SELECT strftime(l.mo, '%Y-%m') AS month,
           l.yc AS revenue_cents,
           l.fc AS seasonal_forecast_cents,
           CAST(CASE WHEN l.fc IS NOT NULL THEN abs(l.yc - l.fc) END
                AS BIGINT) AS abs_err_cents,
           CAST(CASE WHEN s.den > 0 AND s.cn > 0
                THEN (1000000 * CAST(s.num AS HUGEINT) * s.cd)
                     // (CAST(s.den AS HUGEINT) * s.cn)
                ELSE NULL END AS BIGINT) AS mase_ppm
    FROM lagged l CROSS JOIN scale s
    """,
)
def orders_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (same-month-last-year) revenue forecast scored by
    MASE: per calendar month the exact cents revenue, the lag-{SN_LAG}
    forecast, its absolute error, and the series-level MASE in ppm
    (seasonal MAE / random-walk MAE — < 1,000,000 means seasonality
    carries signal). The benchmark readout any learned forecaster must
    beat before it earns cluster time.

    Scale: ONE order scan collapses map-side onto the calendar month
    grid; the axis is the generated full month sequence (gap months
    report 0 — the rule-8 prefix-sum-axis lesson), so the lag windows
    run over a CALENDAR-bounded unpartitioned frame (<= |months| rows,
    never corpus-sized). The MASE ratio is one 1-row broadcast back
    over the month rows."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum((money("o_totalprice") * 100).cast("long")).cast("long").alias("yc")
    )
    axis = (
        m.agg(F.min("mo").alias("lo"), F.max("mo").alias("hi"))
        .select(
            F.explode(
                F.expr("sequence(lo, hi, interval 1 month)")
            ).alias("mo")
        )
    )
    y = axis.join(m.hint("shuffle_hash"), "mo", "left").select(
        "mo", F.coalesce("yc", F.lit(0)).cast("long").alias("yc")
    )
    w = Window.orderBy("mo")
    lagged = y.select(
        "mo",
        "yc",
        F.lag("yc", SN_LAG).over(w).alias("fc"),
        F.lag("yc", 1).over(w).alias("prev"),
    ).localCheckpoint(eager=False)
    scale = lagged.agg(
        F.sum(F.when(F.col("fc").isNotNull(), F.abs(F.col("yc") - F.col("fc"))))
        .cast("long")
        .alias("num"),
        F.count("fc").cast("long").alias("cn"),
        F.sum(
            F.when(F.col("prev").isNotNull(), F.abs(F.col("yc") - F.col("prev")))
        )
        .cast("long")
        .alias("den"),
        F.count("prev").cast("long").alias("cd"),
    )
    return lagged.crossJoin(F.broadcast(scale)).select(
        F.date_format("mo", "yyyy-MM").alias("month"),
        F.col("yc").alias("revenue_cents"),
        F.col("fc").alias("seasonal_forecast_cents"),
        F.when(F.col("fc").isNotNull(), F.abs(F.col("yc") - F.col("fc")))
        .cast("long")
        .alias("abs_err_cents"),
        F.when(
            (F.col("den") > 0) & (F.col("cn") > 0),
            F.expr(
                "(CAST(1000000 AS decimal(38,0)) * num * cd)"
                " div (CAST(den AS decimal(38,0)) * cn)"
            ),
        )
        .cast("long")
        .alias("mase_ppm"),
    )


# -------------------------------------------------- max drawdown ----
#
# Running-extremes readout over the monthly revenue series. The r8 form
# cumulated RAW monthly revenue — but monthly sums are strictly
# positive (TPC-H o_totalprice > 0), so that curve is monotone and
# every drawdown is identically 0 (r8 ADVICE: degenerate readout). The
# series that CAN decline — and the one analysts actually chart — is
# the cumulative EXCESS curve: each month's revenue minus the series
# mean, summed. Months above the mean push it up, below-mean months
# pull it down, and its peak-to-trough drawdown measures the deepest
# sustained under-performance streak. To stay on the exact integer
# lattice the mean is never divided out: everything is scaled by
# n_months (excess_i = yc_i * n - tot, an integer), so cum/peak/
# drawdown are exact in cents x n units and ppm is drawdown relative
# to the n-scaled total revenue (i.e. (drawdown/n)/tot), by truncating
# HUGEINT/decimal(38,0) division.


@register(
    "orders_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yc) AS BIGINT) AS tot
      FROM m
    ),
    c AS (
      SELECT mo, yc, n, tot,
             SUM(yc * n - tot) OVER (ORDER BY mo) AS cum
      FROM m CROSS JOIN s
    ),
    d AS (
      SELECT mo, yc, n, tot, cum,
             MAX(cum) OVER (ORDER BY mo) AS peak
      FROM c
    ),
    x AS (
      SELECT mo, yc, cum, peak,
             CAST(peak - cum AS BIGINT) AS drawdown_scaled,
             CAST((CAST(1000000 AS HUGEINT) * (peak - cum))
                  // (CAST(n AS HUGEINT) * tot) AS BIGINT) AS drawdown_ppm
      FROM d
    ),
    mx AS (SELECT CAST(MAX(drawdown_scaled) AS BIGINT) AS max_dd FROM x)
    SELECT strftime(x.mo, '%Y-%m') AS month,
           x.yc AS revenue_cents,
           CAST(x.cum AS BIGINT) AS cum_excess_scaled,
           CAST(x.peak AS BIGINT) AS peak_excess_scaled,
           x.drawdown_scaled,
           x.drawdown_ppm,
           mx.max_dd AS max_drawdown_scaled
    FROM x CROSS JOIN mx
    """,
)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough drawdown curve of the cumulative EXCESS revenue
    series (monthly revenue net of the series mean, n-scaled to stay
    integer): per month the cumulative excess, its running peak, the
    drawdown in exact scaled cents and in ppm of n-scaled total
    revenue, and the series max drawdown — the running-extremes window
    shape (MAX OVER preceding) next to the running-sum family, on a
    curve that genuinely rises and falls (r8 ADVICE fix: the raw
    cumulative-revenue curve is monotone, so its drawdown was
    identically 0 and the peak/trough logic untested).

    Scale: ONE order scan collapses map-side onto the CALENDAR month
    grid; both unpartitioned windows run over <= |months| rows (the
    calendar-bounded-axis rule). The excess lattice rides int64
    (|excess| < tot, cum < n*tot; 9.2e18 headroom holds past $900 T
    total revenue); the ppm numerator alone needs decimal(38,0)."""
    o = load_table(spark, sf_dir, "orders")
    # <= |months| rows; checkpointed because BOTH the series totals and
    # the excess curve consume it — unchckpointed each re-ran the order
    # scan + month aggregate (r11 opt)
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum((money("o_totalprice") * 100).cast("long")).cast("long").alias("yc")
    ).localCheckpoint(eager=False)
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("tot"),
    )
    w = Window.orderBy("mo")
    d = (
        m.crossJoin(F.broadcast(s))
        .select(
            "mo",
            "yc",
            "n",
            "tot",
            F.sum(F.col("yc") * F.col("n") - F.col("tot")).over(w).alias("cum"),
        )
        .select(
            "mo",
            "yc",
            "n",
            "tot",
            "cum",
            F.max("cum").over(w).alias("peak"),
        )
        .select(
            "mo",
            "yc",
            "cum",
            "peak",
            (F.col("peak") - F.col("cum")).cast("long").alias("drawdown_scaled"),
            F.expr(
                "CAST((CAST(1000000 AS decimal(38,0)) * (peak - cum))"
                " div (CAST(n AS decimal(38,0)) * tot) AS BIGINT)"
            ).alias("drawdown_ppm"),
        )
        .localCheckpoint(eager=False)
    )
    mx = d.agg(F.max("drawdown_scaled").cast("long").alias("max_drawdown_scaled"))
    return d.crossJoin(F.broadcast(mx)).select(
        F.date_format("mo", "yyyy-MM").alias("month"),
        F.col("yc").alias("revenue_cents"),
        F.col("cum").cast("long").alias("cum_excess_scaled"),
        F.col("peak").cast("long").alias("peak_excess_scaled"),
        "drawdown_scaled",
        "drawdown_ppm",
        "max_drawdown_scaled",
    )
