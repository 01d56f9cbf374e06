"""Frequent-pattern mining over order baskets (SURVEY.md §2.C extension
surface): A-priori frequent 2-itemsets — the classic market-basket
shape, re-expressed as two hash aggregations and one key-bounded
self-join.

The A-priori downward-closure lever: a pair can only reach min-support
if BOTH its items do, so the item-support pass runs first and the
basket relation is semi-join-pruned to frequent items before any pair
is generated. Pair generation self-joins the pruned baskets on the
basket key — the fan-out per basket is C(items, 2) with basket size
bounded by the data model (TPC-H orders hold ~4-7 lineitems), so the
shuffle is a constant factor of the basket relation, never quadratic
in the catalog.

Reference parity note: the reference (a Cassandra-backed filesystem;
SURVEY.md §2.A) has no mining surface; this extends the engine's
training-pipeline side the same way the graph and sketch operators do.

Determinism: supports are exact integers; no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.memo import materialize_shared, shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table

# Standard absolute min-support knob. On the uniform synthetic baskets
# a corpus-relative threshold is degenerate (expected pair support is
# ~constant in sf because the part catalog scales with the fact table),
# so the knob is absolute, as in the classic A-priori formulation.
BASKET_MINSUP = 3


@shared
def basket_items_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (l_orderkey, l_partkey) — the basket relation every
    mining query starts from. Memoized per (session, sf_dir) behind a
    lazy localCheckpoint (optimization r11, the candidate_edges_df
    pattern): each of the three basket queries referenced this
    expression 3-4 times in its own DAG (support pass, basket-size
    pass, both pair passes), re-running the lineitem scan + distinct
    shuffle each time, and the battery ran it again per query. The
    checkpoint is lineitem-proportional — the same discipline as the
    prefix-filter shingle memo (a real cluster persists it bucketed by
    l_orderkey; localCheckpoint is the single-host analog).
    Materialization strategy: SNACKFS_MEMO_MATERIALIZE (r11 VERDICT #3 —
    "local" default here, "reliable"/"none" on a cluster)."""
    return materialize_shared(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        spark,
    )


@register(
    "basket_frequent_pairs",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS support FROM li GROUP BY l_partkey
    ),
    freq AS (SELECT l_partkey, support FROM item WHERE support >= {BASKET_MINSUP}),
    b AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN freq USING (l_partkey)),
    pairs AS (
      SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS pair_support
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.pair_support,
           fa.support AS support_a, fb.support AS support_b,
           n.n_baskets
    FROM pairs p
    JOIN freq fa ON fa.l_partkey = p.part_a
    JOIN freq fb ON fb.l_partkey = p.part_b
    CROSS JOIN n
    WHERE p.pair_support >= {BASKET_MINSUP}
    """,
)
def basket_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemsets over order baskets at BASKET_MINSUP
    min-support: part pairs bought together, with per-item supports
    and the basket universe size (confidence = pair_support/support_a
    and lift = pair_support*n_baskets/(support_a*support_b) are one
    exact-integer division away for any consumer).

    Scale: item supports collapse map-side to catalog size. The
    downward-closure prune semi-joins baskets to frequent items BEFORE
    pair generation, and the pair self-join shuffles on the basket key
    with per-basket fan-out bounded by basket size — both relations are
    basket-proportional, never catalog². Support joins at the end run
    key-hashed (the frequent-item relation is catalog-proportional, so
    it is never broadcast — the 100x-sweep OOM lesson)."""
    li = basket_items_df(spark, sf_dir)
    n = li.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("support"))
    freq = item.filter(F.col("support") >= BASKET_MINSUP)
    b = li.join(freq.hint("shuffle_hash").select("l_partkey"), "l_partkey")
    x = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    y = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = (
        x.join(y, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= BASKET_MINSUP)
    )
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("support").alias("support_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("support").alias("support_b")
    )
    return (
        pairs.join(fa.hint("shuffle_hash"), "part_a")
        .join(fb.hint("shuffle_hash"), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_support",
            "support_a",
            "support_b",
            "n_baskets",
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total
    FROM trans
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's
    time-ordered event sequence: (from_type, to_type, n, from_total) —
    the next-event model behind session simulation and anomalous-flow
    detection; P(to|from) = n/from_total is one exact division away.

    Scale: one shuffle on user_id feeds the LEAD window (the same
    partitioning sessionization uses), transitions then collapse
    map-side onto the type-pair key space (|types|^2, a constant), and
    the row-total is a window over that bounded relation — so after the
    sequence pass everything is O(|types|^2) state regardless of corpus
    size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    trans = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return trans.select(
        "from_type", "to_type", "n", F.sum("n").over(wt).alias("from_total")
    )


# Sequential-pattern mining (PrefixSpan's 2-sequence core): how many
# users exhibit "A, then later B" at least once — NOT the adjacent
# transition matrix (events_markov_transitions) and NOT a fixed funnel
# (events_conversion_funnel): every ordered type pair, any gap. The
# per-user reduction to FIRST-A-before-LAST-B makes existence exact
# without enumerating event pairs.
SEQPAIR_MIN_USERS = 3


@register(
    "events_sequential_pairs",
    oracle=f"""
    WITH bounds AS (
      SELECT user_id, event_type,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM bounds a
      JOIN bounds b ON b.user_id = a.user_id
                   AND b.event_type <> a.event_type
                   AND a.first_ts < b.last_ts
      GROUP BY 1, 2
    ),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_users FROM events)
    SELECT type_a, type_b, n_users, u.total_users,
           CAST((1000 * n_users) // u.total_users AS BIGINT) AS support_permille
    FROM pairs CROSS JOIN u
    WHERE n_users >= {SEQPAIR_MIN_USERS}
    """,
)
def events_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential 2-patterns: users with any occurrence of
    type_a strictly before some later occurrence of type_b. Existence
    collapses to first(A) < last(B) per user, so the engine reduces
    each user to |types| (first, last) bounds and self-joins THOSE —
    per-user fan-out is at most |types|², never events² (the PrefixSpan
    projection trick, specialized to length-2 patterns).

    Scale: one (user, type) aggregate collapses the fact map-side; the
    bounds self-join shuffles user-keyed rows whose per-user volume is
    bounded by the type vocabulary; pattern counts collapse onto the
    |types|² lattice. Support is integer permille of the user universe
    (truncating division, identical both engines)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    a = bounds.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("type_a"),
        "first_ts",
    )
    b = bounds.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("type_b"),
        "last_ts",
    )
    pairs = (
        a.join(b, "u")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("first_ts") < F.col("last_ts"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= SEQPAIR_MIN_USERS)
    )
    u = ev.agg(F.count_distinct("user_id").alias("total_users"))
    return pairs.crossJoin(F.broadcast(u)).select(
        "type_a",
        "type_b",
        "n_users",
        "total_users",
        F.expr("(1000 * n_users) div total_users").cast("long").alias(
            "support_permille"
        ),
    )


# ------------------------------------------------------ PCY bucket prune ----
#
# PCY (Park-Chen-Yu 1995): pass 1 counts PAIR HASH BUCKETS instead of
# pairs; pass 2 counts only pairs whose bucket reached min-support. The
# prune is LOSSLESS — bucket_count >= pair_support, so a pruned pair is
# provably infrequent — which is why the oracle below is the PLAIN
# frequent-pairs SQL at the same threshold: a value-hash match against
# the unpruned answer IS the proof the bucket pass dropped nothing.
#
# Two data-derived knobs make the prune actually bite at every scale
# (the first sweep of this operator measured a FIXED minsup=3 /
# 16-buckets-per-basket parameterization at 61.6 s/sf1 — 4.6x slower
# than the unpruned pass, because absolute-3 support makes nearly
# every bucket hot and a 0.4-load bucket space defeats map-side
# combine):
#
# - min-support is a FRACTION of baskets (1/10000, floored at 3), the
#   standard formulation — support thresholds that don't scale with
#   the corpus stop meaning "frequent" one decade up (the
#   dedup_semantic_scaled lesson applied to mining);
# - the bucket space targets load = minsup/8: n_buckets =
#   8*total_pairs/minsup, so a random bucket is overwhelmingly below
#   threshold (Chernoff) while any bucket holding a truly frequent
#   pair stays hot — and the bucket aggregate collapses ~8:1 map-side.
PCY_MINSUP_DENOM = 10000  # minsup = max(3, n_baskets / 10000)
PCY_LOAD_DIV = 8          # bucket load target = minsup / 8


@register(
    "basket_pairs_pcy",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ms AS (
      SELECT GREATEST(3, COUNT(DISTINCT l_orderkey) // {PCY_MINSUP_DENOM})
               AS minsup
      FROM li
    ),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS support FROM li GROUP BY l_partkey
    ),
    freq AS (SELECT l_partkey FROM item CROSS JOIN ms WHERE support >= ms.minsup),
    b AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN freq USING (l_partkey))
    SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS pair_support
    FROM b x JOIN b y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    CROSS JOIN ms
    GROUP BY 1, 2, ms.minsup
    HAVING COUNT(*) >= ms.minsup
    """,
)
def basket_pairs_pcy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemsets via the PCY bucket prune: identical output to
    the A-priori pair pass at the derived min-support (the oracle is the
    plain unpruned SQL — the hash match proves losslessness), but the
    engine never hash-aggregates the full pair-key space.

    Plan: (1) item pass + downward-closure prune at minsup =
    max(3, n_baskets/10000), derived in-plan; (2) bucket pass — every
    candidate pair hashes to md5_bucket(pair, n_buckets) with
    n_buckets = 8*total_pairs/minsup (load = minsup/8) derived in-plan
    from the per-basket sizes, and bucket counts collapse ~8:1
    map-side onto narrow int keys; (3) pair pass — the PAIR relation is
    materialized once (materialize_shared policy) and read by BOTH the
    bucket pass and the final count, then semi-joins the hot-bucket set
    on the bucket key with NO forced strategy: the hot set is
    ~(frequent pairs + Chernoff tail) rows at a sane minsup, so AQE
    broadcasts it when it is actually small and falls back to
    shuffle-hash when it is not.

    Shape history: r6 measured "regenerate beats checkpointing the pair
    relation" — that predates the memoized basket relation. r12
    re-measured per VERDICT #6 (OPTIMIZATION_r12.md work item 6, 2
    interleaved rounds x best-of-4 at sf0.1): regenerate 2.31/2.22 s vs checkpointed pairs
    1.75/1.72 s — the checkpoint now wins ~25% because the basket join
    feeding pair generation no longer amortizes a lineitem scan. The
    pair relation is the engine's largest intermediate, so the
    materialization rides SNACKFS_MEMO_MATERIALIZE: "none" on clusters
    where it exceeds checkpoint storage restores the regenerate shape
    verbatim."""
    li = basket_items_df(spark, sf_dir)
    ms = li.agg(
        F.greatest(
            F.lit(3).cast("long"),
            F.expr(f"count(distinct l_orderkey) div {PCY_MINSUP_DENOM}"),
        ).alias("minsup")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("support"))
    freq = (
        item.crossJoin(F.broadcast(ms))
        .filter(F.col("support") >= F.col("minsup"))
        .select("l_partkey")
    )
    b = li.join(freq.hint("shuffle_hash"), "l_partkey")
    # bucket space from the exact candidate-pair volume: sum over
    # baskets of C(size, 2), one basket-keyed aggregate
    nb = (
        b.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.sum(F.expr("sz * (sz - 1) div 2")).alias("total_pairs"))
        .crossJoin(F.broadcast(ms))
        .select(
            F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"({PCY_LOAD_DIV} * total_pairs) div minsup"),
            ).alias("nbuckets"),
            "minsup",
        )
    )

    from snackfs_spark.functions import md5_fp

    x = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    y = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pair_key = F.concat_ws(
        "|", F.col("part_a").cast("string"), F.col("part_b").cast("string")
    )
    pairs = materialize_shared(
        x.join(y, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .crossJoin(F.broadcast(nb))
        .withColumn("bucket", md5_fp(pair_key) % F.col("nbuckets"))
        .select("part_a", "part_b", "bucket", "minsup"),
        spark,
    )
    hot_buckets = (
        pairs.groupBy("bucket", "minsup")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") >= F.col("minsup"))
        .select("bucket")
    )
    return (
        pairs.join(hot_buckets, "bucket", "left_semi")
        .groupBy("part_a", "part_b", "minsup")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= F.col("minsup"))
        .select("part_a", "part_b", "pair_support")
    )


# ------------------------------------------------- association rules ----
#
# Directional association rules from the frequent 2-itemsets: each
# frequent pair {a, b} yields a -> b and b -> a with the three classic
# measures — support (pair count), confidence P(b|a) and lift
# P(b|a)/P(b) — all exact-integer ppm via cross-multiplied truncating
# division (no floats; HUGEINT/decimal(38,0) legs where products can
# pass int64). The rule table is what a recommender or inventory
# planner actually consumes; the pair relation alone is symmetric and
# hides the direction confidence lives on.
RULE_MIN_CONF_PPM = 100_000  # 10%: drop rules the antecedent barely predicts


@register(
    "mining_association_rules",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS support FROM li GROUP BY l_partkey
    ),
    freq AS (SELECT l_partkey, support FROM item WHERE support >= {BASKET_MINSUP}),
    b AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN freq USING (l_partkey)),
    pairs AS (
      SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS pair_support
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {BASKET_MINSUP}
    ),
    rules AS (
      SELECT part_a AS antecedent, part_b AS consequent, pair_support FROM pairs
      UNION ALL
      SELECT part_b, part_a, pair_support FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.pair_support,
           fa.support AS support_ante, fb.support AS support_cons,
           CAST((1000000 * r.pair_support) // fa.support AS BIGINT)
             AS confidence_ppm,
           CAST((1000000 * CAST(r.pair_support AS HUGEINT) * n.n_baskets)
                // (CAST(fa.support AS HUGEINT) * fb.support) AS BIGINT)
             AS lift_ppm
    FROM rules r
    JOIN freq fa ON fa.l_partkey = r.antecedent
    JOIN freq fb ON fb.l_partkey = r.consequent
    CROSS JOIN n
    WHERE (1000000 * r.pair_support) // fa.support >= {RULE_MIN_CONF_PPM}
    """,
)
def mining_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a -> b from the frequent order-basket pairs:
    rule support, antecedent/consequent supports, confidence and lift
    in exact ppm, filtered to confidence >= {RULE_MIN_CONF_PPM} ppm —
    the directional readout (which item PREDICTS which) the symmetric
    pair table can't express.

    Scale: identical posture to basket_frequent_pairs (A-priori
    downward closure — items prune before any pair is generated; pair
    fan-out bounded by basket size), plus two broadcast joins of the
    minsup-bounded item relation and one ppm filter. Rules are <= 2x
    frequent pairs."""
    return association_rules(basket_items_df(spark, sf_dir), "shuffle_hash")


def association_rules(li: DataFrame, join_hint: str | None = None) -> DataFrame:
    """The rule table over the basket relation ``li`` (distinct
    l_orderkey, l_partkey rows), with ``join_hint`` on one side of the
    pair self-join. The one rules body: the registered query runs it
    over the shuffled baskets, sources.bucketed over the bucketed
    basket table."""
    n = li.agg(F.count_distinct("l_orderkey").cast("long").alias("n_baskets"))
    item = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    freq = item.filter(F.col("support") >= BASKET_MINSUP).localCheckpoint(
        eager=False
    )
    b = li.join(F.broadcast(freq.select("l_partkey")), "l_partkey")
    x = b.alias("x")
    y = b.alias("y") if join_hint is None else b.alias("y").hint(join_hint)
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .filter(F.col("pair_support") >= BASKET_MINSUP)
    )
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "pair_support",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "pair_support",
        )
    )
    fa = freq.select(
        F.col("l_partkey").alias("antecedent"), F.col("support").alias("support_ante")
    )
    fb = freq.select(
        F.col("l_partkey").alias("consequent"), F.col("support").alias("support_cons")
    )
    return (
        rules.join(F.broadcast(fa), "antecedent")
        .join(F.broadcast(fb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "pair_support",
            "support_ante",
            "support_cons",
            F.expr("(1000000 * pair_support) div support_ante")
            .cast("long")
            .alias("confidence_ppm"),
            F.expr(
                "(CAST(1000000 AS decimal(38,0)) * pair_support * n_baskets)"
                " div (CAST(support_ante AS decimal(38,0)) * support_cons)"
            )
            .cast("long")
            .alias("lift_ppm"),
        )
        .filter(F.col("confidence_ppm") >= RULE_MIN_CONF_PPM)
    )
