"""Embedding-space clustering operators (SURVEY.md §2.C similarity /
dedup families): fixed-iteration Lloyd's k-means as the iterative-
algorithm showcase, and SemDeDup-style semantic deduplication (drop
near-identical vectors within a cluster).

Both are deterministic end-to-end — centroid means accumulate in exact
decimals, distances/cosines are left-fold double arithmetic — so the
DuckDB oracles hash-match bit-for-bit at any partitioning. Iterative
algorithms on Spark want few, wide rounds: each k-means round is one
broadcast-join assignment pass + one map-side-collapsing aggregate,
which is exactly the shape that survives a 1000-executor scale-up
(centroids are O(k·dim) — always broadcastable; the corpus is scanned
once per round, never shuffled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import md5_bucket
from snackfs_spark.memo import shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table

KMEANS_K = 8          # initial centroids = vectors with vec_id 0..K-1
KMEANS_ITERS = 2      # fixed rounds => SQL-unrollable, fully deterministic
SEMDEDUP_TAU = 0.35   # within-cluster cosine above this = semantic dup

_L2_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)
_DOT_DUCK = "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"


# argmin over the in-row centroid array: lexicographic struct ordering
# (dist ASC, cid ASC) = nearest centroid with ties to the lowest cid —
# exactly the row_number(ORDER BY dist, cid) rule, evaluated per vector
# with ZERO shuffle (the r11 optimization rewrite: the window form
# exchanged + sorted one corpus-sized relation per assignment pass).
_NEAREST = (
    "array_min(transform(cs, c -> struct("
    "aggregate(zip_with(ev, c.cv, (x, y) -> (x - y) * (x - y)), 0D, "
    "(s, v) -> s + v) AS dist, c.cid AS cid)))"
)


def _assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd's assignment pass: nearest centroid by squared L2,
    ties broken by centroid id. The O(k*dim) centroid relation folds to
    a ONE-row array and broadcasts; assignment is a per-row array-min
    expression — the corpus is mapped, never shuffled, never windowed
    (min over the array compares the same doubles the window sort
    compared, so results are bit-identical)."""
    cs = cents.agg(F.collect_list(F.struct("cid", "cv")).alias("cs"))
    return (
        vectors.crossJoin(F.broadcast(cs))
        .withColumn("m", F.expr(_NEAREST))
        .select(
            *vectors.columns,
            F.col("m.cid").alias("cid"),
            F.col("m.dist").alias("dist"),
        )
    )


def _recenter(assigned: DataFrame) -> DataFrame:
    """New centroids = per-cluster elementwise means over an integer
    lattice: each component is scaled by 1e12 and rounded HALF-EVEN to a
    bigint before summation. Decimal casts won't do here — a float like
    0.1983642578125 is an exact 13-fractional-digit dyadic, a true
    rounding tie at any fixed decimal scale, and Spark casts HALF_UP
    while DuckDB rounds half-even. bround/round_even on a double < 2^53
    is tie-exact in both engines (binary ties are exactly representable
    halves), integer sums are order-independent, and the final
    double divisions are IEEE-correctly-rounded — so centroids are
    bit-identical at any partition count in both engines."""
    q = F.bround(F.col("x") * F.lit(1.0e12)).cast("bigint")
    return (
        assigned.select("cid", F.posexplode("ev").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            (F.sum(q).cast("double") / F.count(F.lit(1)) / F.lit(1.0e12)).alias("c")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )


def _kmeans_oracle(iters: int = KMEANS_ITERS) -> str:
    """Lloyd's unrolled to `iters` rounds in SQL CTEs (each round = one
    assign CTE + one recenter CTE; the chain is generated, so the same
    oracle covers deeper runs in tests)."""
    assign = """
      SELECT vec_id, ev, cid, dist FROM (
        SELECT v.vec_id, v.ev, c.cid,
               {l2} AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {l2}, c.cid) AS rn
        FROM {vsrc} v CROSS JOIN {csrc} c
      ) WHERE rn = 1
    """
    l2 = _L2_DUCK.format(a="v.ev", b="c.cv")
    recenter = """
      SELECT cid, list(c ORDER BY pos) AS cv FROM (
        SELECT cid, i AS pos,
               CAST(SUM(CAST(round_even(ev[i] * 1e12, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e12 AS c
        FROM {asrc}, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY cid, i
      ) GROUP BY cid
    """
    ctes = [
        f"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    )""",
        f"c0 AS (SELECT vec_id AS cid, ev AS cv FROM v WHERE vec_id < {KMEANS_K})",
        f"a1 AS ({assign.format(l2=l2, vsrc='v', csrc='c0')})",
    ]
    for r in range(2, iters + 1):
        ctes.append(f"c{r - 1} AS ({recenter.format(asrc=f'a{r - 1}')})")
        ctes.append(f"a{r} AS ({assign.format(l2=l2, vsrc='v', csrc=f'c{r - 1}')})")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT vec_id, cid AS cluster, dist AS sq_dist FROM a{iters}"
    )


@register("emb_kmeans_assign", oracle=_kmeans_oracle())
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus, Lloyd's algorithm with
    deterministic seeding (centroids = the first K vectors by id) and a
    fixed iteration count. Per round: centroids broadcast against one
    corpus scan (assignment), then a posexplode + decimal-mean aggregate
    (recenter) whose output is again O(k·dim). The corpus itself never
    shuffles — rounds cost one scan each, the classic iterative-ML shape
    on Spark (same loop as MLlib's KMeans, minus sampling-based init,
    which is deliberately replaced by deterministic seeding so the whole
    chain is oracle-checkable). At 100 TB: per-round cost = one cached
    scan; k and dim bound all shuffle traffic."""
    return kmeans_assign(spark, sf_dir, iters=KMEANS_ITERS)


def _kmeans_vectors(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *extra,
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    )


def kmeans_cents(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """The FINAL centroid relation of the deterministic Lloyd's loop
    (seed = first K vectors, iters-1 recenter rounds) — O(k*dim) rows.
    Memoized per (session, sf_dir) at the registered round count so the
    assignment query and the label-agreement eval share one centroid
    chain instead of re-running the recenter aggregates per consumer
    (the candidate_edges_df pattern); deeper test runs build fresh."""
    if iters == KMEANS_ITERS:
        return _kmeans_cents_registered(spark, sf_dir)
    return _kmeans_cents_build(spark, sf_dir, iters)


@shared
def _kmeans_cents_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kmeans_cents_build(spark, sf_dir, KMEANS_ITERS)


def _kmeans_cents_build(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    v = _kmeans_vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("ev").alias("cv")
    )
    for _ in range(iters - 1):
        cents = _recenter(_assign(v, cents))
    return cents.localCheckpoint(eager=False)


def kmeans_assign(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """Parameterized Lloyd's loop behind emb_kmeans_assign; tests run it
    deeper than the registered round count against the same generated
    oracle (`_kmeans_oracle(iters)`)."""
    v = _kmeans_vectors(spark, sf_dir)
    assigned = _assign(v, kmeans_cents(spark, sf_dir, iters))
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster"), F.col("dist").alias("sq_dist")
    )


def _semdedup_oracle() -> str:
    cos = (
        f"{_DOT_DUCK.format(a='a.ev', b='b.ev')}"
        f" / (sqrt({_DOT_DUCK.format(a='a.ev', b='a.ev')})"
        f" * sqrt({_DOT_DUCK.format(a='b.ev', b='b.ev')}))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.label = b.label AND b.vec_id > a.vec_id
      WHERE {cos} > {SEMDEDUP_TAU}
    )
    SELECT v.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) FILTER (WHERE d.vec_id IS NULL) AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN d.vec_id IS NULL THEN v.vec_id END) AS BIGINT)
             AS first_kept
    FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
    GROUP BY v.label ORDER BY v.label
    """


# Refusal bound for the fixed-cluster variant: the 10x stress sweep
# measured it superlinear (exponent 1.38 — pair volume grows with the
# SQUARE of cluster size), so above this many within-cluster pairs the
# operator refuses to run instead of detonating (r4 VERDICT 'What's
# wrong' #1). 1e9 pairs ~= the largest block a single local[32] run
# clears in minutes; sf0.1 sits at ~1.8e8 (passes), sf10 at ~1.8e12
# (raises). Callers past the bound want dedup_semantic_scaled, whose
# size-adaptive sub-bucketing holds 0.51 exp/decade at 100x.
SEMDEDUP_MAX_PAIRS = 1_000_000_000


def _guard_pair_volume(cluster_sizes: list[int]) -> None:
    """Raise before planning the O(sum c_i^2) self-join if the pair
    volume exceeds the documented bound."""
    pairs = sum(c * (c - 1) // 2 for c in cluster_sizes)
    if pairs > SEMDEDUP_MAX_PAIRS:
        raise ValueError(
            f"dedup_semantic: {pairs:,} within-cluster pairs exceeds the "
            f"documented bound ({SEMDEDUP_MAX_PAIRS:,}); fixed cluster "
            "assignments do not scale with the corpus (measured exponent "
            "1.38/decade, SCALE.md). Use dedup_semantic_scaled, which "
            "derives its sub-cluster count from the corpus size."
        )


@register("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 pattern):
    embeddings are grouped into clusters (here the corpus's label column
    — in production the k-means assignment above), pairwise cosine runs
    ONLY within a cluster, and for every pair above the threshold the
    higher id is dropped; survivors are counted per cluster.

    Scale: the O(n²) pair comparison is confined to one cluster — the
    equi-self-join on the cluster key shuffles each vector once, and
    cluster sizes are controlled by k (pick k ∝ corpus/1e4 and each
    cluster's pair block fits one task; skewed clusters split via AQE).
    The drop set is vec_ids only — orders of magnitude smaller than the
    corpus — and joins back as a broadcast. This is the published
    SemDeDup recipe re-expressed as two joins + one aggregate.

    Because the cluster assignment is CALLER-FIXED (the label column /
    a caller-chosen k), pair volume grows quadratically when the corpus
    outgrows it — so this variant first counts its clusters (one tiny
    agg job, same standing as the scaled variant's count) and REFUSES
    above SEMDEDUP_MAX_PAIRS rather than detonating."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = [r["c"] for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).collect()]
    _guard_pair_volume(sizes)
    # Norms precomputed once per vector at scan time: the pair predicate
    # then costs ONE fold (the dot product) instead of three — bitwise
    # identical to the oracle's inline norms (same fold over the same
    # array), 3x less per-pair work where the O(c²) cost lives.
    v = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    ).withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(zip_with(ev, ev, (x, y) -> x * y), 0D, (s, z) -> s + z)")),
        # both pair-join sides and the survivor flag read this —
        # unchckpointed each re-ran the scan + cast + norm fold
        # (r11 opt: 3 scans -> 1)
    ).localCheckpoint(eager=False)
    dot = "aggregate(zip_with(a.ev, b.ev, (x, y) -> x * y), 0D, (s, z) -> s + z)"
    # Pair-blocking: the O(c²)·dim pair compute is CPU-bound, but AQE
    # sizes shuffle partitions by bytes and would coalesce the join onto
    # a handful of tasks (embedding rows are tiny on disk). Sub-block the
    # pair space — a-rows keyed by vec_id mod B, b-rows replicated to
    # every block — so the join key (label, blk) carries B tasks per
    # cluster; each pair still appears exactly once. The explicit
    # repartition pins the parallelism against byte-based coalescing.
    # At corpus scale the same two knobs (k clusters × B blocks) are the
    # unit a 1000-executor run scales over.
    blocks = 4
    a_side = v.withColumn("blk", (F.col("vec_id") % blocks).cast("int")).repartition(
        32, "label", "blk"
    )
    b_side = v.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(blocks)]))
    ).repartition(32, "label", "blk")
    dropped = (
        a_side.alias("a")
        .join(
            b_side.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(F.expr(f"{dot} / (a.nrm * b.nrm)") > SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    flagged = v.join(
        F.broadcast(dropped.withColumn("is_dup", F.lit(1))), "vec_id", "left"
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(F.when(F.col("is_dup").isNull(), 1)).alias("n_kept"),
            F.min(F.when(F.col("is_dup").isNull(), F.col("vec_id"))).alias("first_kept"),
        )
        .orderBy("label")
    )


TARGET_CLUSTER = 64   # target vectors per sub-cluster in the scaled variant
N_LABELS = 10         # label-cluster count in the fixture


def _subbits_for(n: int) -> int:
    """Smallest b with N_LABELS * TARGET_CLUSTER * 2^b >= n (pure integer
    arithmetic — no log2, so both engines derive the identical b)."""
    b = 0
    while N_LABELS * TARGET_CLUSTER * (1 << b) < n:
        b += 1
    return b


def _semdedup_scaled_oracle() -> str:
    cos = (
        f"{_DOT_DUCK.format(a='a.ev', b='b.ev')}"
        f" / (sqrt({_DOT_DUCK.format(a='a.ev', b='a.ev')})"
        f" * sqrt({_DOT_DUCK.format(a='b.ev', b='b.ev')}))"
    )
    # b = smallest integer with 640 * 2^b >= n, via an integer-only probe
    # over candidate bit counts (log2 would be libm math; this is exact).
    return f"""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    bits AS (
      SELECT MIN(b) AS b FROM (SELECT unnest(range(0, 21)) AS b), n
      WHERE {N_LABELS * TARGET_CLUSTER} * (1 << b) >= n.n
    ),
    v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
             list_sum(list_transform(range(1, bits.b + 1),
                      j -> CASE WHEN embedding[j] >= 0
                                THEN 1 << (j - 1) ELSE 0 END)) AS bucket
      FROM embeddings CROSS JOIN bits
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.label = b.label
        AND COALESCE(a.bucket, 0) = COALESCE(b.bucket, 0)
        AND b.vec_id > a.vec_id
      WHERE {cos} > {SEMDEDUP_TAU}
    )
    SELECT v.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) FILTER (WHERE d.vec_id IS NULL) AS BIGINT) AS n_kept
    FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
    GROUP BY v.label ORDER BY v.label
    """


def semantic_scaled_dropped(spark: SparkSession, sf_dir: str):
    """(vectors, dropped_vec_ids) for size-adaptive SemDeDup — shared by
    the registered query and the corpus-build capstone."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # one tiny count job; the scalar parameterizes the plan
    bits = _subbits_for(n)
    v = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    ).withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(zip_with(ev, ev, (x, y) -> x * y), 0D, (s, z) -> s + z)")),
        # both pair-join sides and the survivor flag read this —
        # unchckpointed each re-ran the scan + cast + norm fold
        # (r11 opt: 3 scans -> 1)
    ).localCheckpoint(eager=False)
    if bits:
        bucket = sum(
            (
                F.when(F.element_at(F.col("ev"), j + 1) >= 0, F.lit(1 << j)).otherwise(
                    F.lit(0)
                )
                for j in range(bits)
            ),
            F.lit(0),
        )
    else:
        bucket = F.lit(0)
    v = v.withColumn("bucket", bucket).repartition(32, "label", "bucket")
    dot = "aggregate(zip_with(a.ev, b.ev, (x, y) -> x * y), 0D, (s, z) -> s + z)"
    dropped = (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(F.expr(f"{dot} / (a.nrm * b.nrm)") > SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return v, dropped


@register("dedup_semantic_scaled", oracle=_semdedup_scaled_oracle())
def dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-adaptive SemDeDup: the 10x stress sweep measured the fixed-k
    variant superlinear (exponent 1.35 — cluster size grows with the
    corpus, pairs grow quadratically). The published recipe scales the
    cluster count with the corpus; here each label cluster is sub-split
    by sign-bit hyperplane buckets whose BIT COUNT is derived from the
    corpus count (smallest b with clusters*2^b covering n at
    TARGET_CLUSTER vectors each) — cluster size stays ~constant, so
    pair volume is linear in n. Near-identical vectors agree on sign
    bits with high probability (the same LSH argument as
    dedup_embedding_cosine), which is what makes sub-splitting a valid
    recall/cost trade at 100 TB. The bit count uses pure integer
    arithmetic so the oracle derives the identical b."""
    v, dropped = semantic_scaled_dropped(spark, sf_dir)
    flagged = v.join(
        F.broadcast(dropped.withColumn("is_dup", F.lit(1))), "vec_id", "left"
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(F.when(F.col("is_dup").isNull(), 1)).alias("n_kept"),
        )
        .orderBy("label")
    )


SEMCON_TAU = 0.35   # eval vector this close to ANY train vector = leaked
_VEC_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS INT)"
)
TRAIN_PCT = 80  # same 80/20 split arithmetic as operators/sampling


def _semcon_oracle() -> str:
    cos = (
        f"{_DOT_DUCK.format(a='t.ev', b='e.ev')}"
        f" / (sqrt({_DOT_DUCK.format(a='t.ev', b='t.ev')})"
        f" * sqrt({_DOT_DUCK.format(a='e.ev', b='e.ev')}))"
    )
    return f"""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    bits AS (
      SELECT MIN(b) AS b FROM (SELECT unnest(range(0, 21)) AS b), n
      WHERE {N_LABELS * TARGET_CLUSTER} * (1 << b) >= n.n
    ),
    v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
             COALESCE(list_sum(list_transform(range(1, bits.b + 1),
                      j -> CASE WHEN embedding[j] >= 0
                                THEN 1 << (j - 1) ELSE 0 END)), 0) AS bucket,
             {_VEC_BUCKET_SQL} AS split_bucket
      FROM embeddings CROSS JOIN bits
    )
    SELECT e.vec_id AS eval_vec,
           CAST(COUNT(*) AS BIGINT) AS n_close_train,
           MAX({cos}) AS max_cosine
    FROM v e JOIN v t
      ON e.label = t.label AND e.bucket = t.bucket
     AND e.split_bucket >= {TRAIN_PCT} AND t.split_bucket < {TRAIN_PCT}
    WHERE {cos} > {SEMCON_TAU}
    GROUP BY e.vec_id ORDER BY e.vec_id
    """


@register("split_semantic_contamination", oracle=_semcon_oracle())
def split_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/eval decontamination — the semantic
    complement of split_contamination_check (which probes exact shingle
    overlap): an eval vector whose cosine to ANY train vector exceeds
    the threshold is a paraphrase-level leak that n-gram matching never
    sees. Candidate pairs come from the same size-adaptive
    (label, sign-bit bucket) key as dedup_semantic_scaled — near-
    identical vectors collide with high probability — so the cross-split
    comparison is an equi-join with linear pair volume, never
    eval x train. Flagged rows report how many train neighbors sit
    inside the threshold and the worst (max) cosine; max over portable
    doubles is itself portable, so the row hashes exactly."""
    v, _ = semantic_scaled_dropped(spark, sf_dir)
    v = v.withColumn(
        "split_bucket", md5_bucket(F.col("vec_id").cast("string"), 100).cast("int")
    )
    train = v.filter(F.col("split_bucket") < TRAIN_PCT).alias("t")
    ev = v.filter(F.col("split_bucket") >= TRAIN_PCT).alias("e")
    dot = "aggregate(zip_with(t.ev, e.ev, (x, y) -> x * y), 0D, (s, z) -> s + z)"
    cos = F.expr(f"{dot} / (t.nrm * e.nrm)")
    return (
        ev.join(
            train,
            (F.col("e.label") == F.col("t.label"))
            & (F.col("e.bucket") == F.col("t.bucket")),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") > SEMCON_TAU)
        .groupBy(F.col("e.vec_id").alias("eval_vec"))
        .agg(
            F.count(F.lit(1)).alias("n_close_train"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("eval_vec")
    )


# ---------------------------------------------------------------------------
# Clustering-quality eval: contingency purity + Rand index, exactly.
#
# "Did the unsupervised clusters recover the known labels?" — the
# companion question to eval_quality_auc's (textstats.py) calibration
# eval, asked of partitions instead of scores. Everything reduces to
# the (cluster, label) contingency table, which is BOUNDED (k x
# |labels|) however large the corpus — so after the k-means pass the
# whole evaluation is tiny-relation algebra:
#   purity = sum_clusters max_label n_ij / n
#   Rand   = (agreeing pairs) / C(n,2), with the pair counts derived
#            from the contingency margins: 2(a+d) = 2*s_ij2 + n(n-1)
#            - s_i2 - s_j2 where s_*2 are sum x(x-1) over cells/margins.
# Pair counts are quadratic in n and wrap int64 past ~4.3e9 rows, so
# the x(x-1) products accumulate in decimal(38,0) (the OLS/AUC
# widening pattern) and each metric is emitted as the correctly-
# rounded double of its exact rational.


def _cluster_agreement_oracle() -> str:
    return f"""
    WITH assign AS ({_kmeans_oracle()}),
    cont AS (
      SELECT a.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(n_ij) AS BIGINT) AS n,
             SUM(CAST(n_ij AS DECIMAL(18,0)) * CAST(n_ij - 1 AS DECIMAL(18,0))) AS s_ij2
      FROM cont
    ),
    pur AS (
      SELECT CAST(SUM(mx) AS BIGINT) AS pure_n
      FROM (SELECT cluster, MAX(n_ij) AS mx FROM cont GROUP BY cluster)
    ),
    rs AS (
      SELECT SUM(CAST(n_i AS DECIMAL(18,0)) * CAST(n_i - 1 AS DECIMAL(18,0))) AS s_i2
      FROM (SELECT cluster, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM cont GROUP BY cluster)
    ),
    cs AS (
      SELECT SUM(CAST(n_j AS DECIMAL(18,0)) * CAST(n_j - 1 AS DECIMAL(18,0))) AS s_j2
      FROM (SELECT label, CAST(SUM(n_ij) AS BIGINT) AS n_j FROM cont GROUP BY label)
    )
    SELECT c.cluster, c.label, c.n_ij,
           CASE WHEN t.n = 0 THEN NULL
                ELSE CAST(p.pure_n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS purity,
           CASE WHEN t.n < 2 THEN NULL
                ELSE CAST(t.s_ij2 + t.s_ij2
                          + CAST(t.n AS DECIMAL(18,0)) * CAST(t.n - 1 AS DECIMAL(18,0))
                          - r.s_i2 - cs.s_j2 AS DOUBLE)
                     / CAST(CAST(t.n AS DECIMAL(18,0))
                            * CAST(t.n - 1 AS DECIMAL(18,0)) AS DOUBLE)
           END AS rand_index
    FROM cont c CROSS JOIN tot t CROSS JOIN pur p CROSS JOIN rs r CROSS JOIN cs
    """


@register("eval_cluster_agreement", oracle=_cluster_agreement_oracle())
def eval_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-vs-labels agreement: the k-means (cluster, label)
    contingency table with overall purity and the exact Rand index
    constant on every row — pair counting done on the bounded
    contingency margins in decimal(38,0), never over vector pairs.

    Scale: the cost is the shared kmeans_cents centroid chain; the
    assignment itself is a per-row array-min over the broadcast
    centroids on a label-carrying scan — no vec-keyed join back to the
    corpus — and the eval is one map-side-collapsing aggregate onto k x
    |labels| cells plus 1-row margin algebra. No vector-pair join, no
    sort, at any corpus size."""
    v = _kmeans_vectors(spark, sf_dir, "label")
    assign = _assign(v, kmeans_cents(spark, sf_dir, KMEANS_ITERS)).select(
        F.col("cid").alias("cluster"), "label"
    )
    cont = assign.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n_ij"))
    # the k-means rounds are the dominant cost and four margin branches
    # consume the table — pin it (reliable checkpoint dir on a cluster).
    cont = cont.localCheckpoint(eager=False)
    dec = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    tot = cont.agg(
        F.sum("n_ij").alias("n"),
        F.sum(dec(F.col("n_ij")) * dec(F.col("n_ij") - 1)).alias("s_ij2"),
    )
    pur = (
        cont.groupBy("cluster")
        .agg(F.max("n_ij").alias("mx"))
        .agg(F.sum("mx").alias("pure_n"))
    )
    rs = (
        cont.groupBy("cluster")
        .agg(F.sum("n_ij").alias("n_i"))
        .agg(F.sum(dec(F.col("n_i")) * dec(F.col("n_i") - 1)).alias("s_i2"))
    )
    cs = (
        cont.groupBy("label")
        .agg(F.sum("n_ij").alias("n_j"))
        .agg(F.sum(dec(F.col("n_j")) * dec(F.col("n_j") - 1)).alias("s_j2"))
    )
    nn1 = dec(F.col("n")) * dec(F.col("n") - 1)
    stats = (
        tot.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(cs))
        .select(
            F.when(
                F.col("n") > 0,
                F.col("pure_n").cast("double") / F.col("n").cast("double"),
            ).alias("purity"),
            F.when(
                F.col("n") >= 2,
                (
                    F.col("s_ij2") + F.col("s_ij2") + nn1
                    - F.col("s_i2") - F.col("s_j2")
                ).cast("double")
                / nn1.cast("double"),
            ).alias("rand_index"),
        )
    )
    return cont.crossJoin(F.broadcast(stats)).select(
        "cluster", "label", "n_ij", "purity", "rand_index"
    )


# ------------------------------------------------------- centroid drift ----
#
# Embedding-distribution drift between two cohorts (first half vs
# second half of vec_ids — the stand-in for "last month's embeddings
# vs this month's"): per label cluster, the L1 distance between cohort
# centroids, computed EXACTLY by cross-multiplying the quantized
# component sums over the common denominator n_a*n_b —
# |sum_a*n_b - sum_b*n_a| accumulates in decimal(38,0), so no float
# mean is ever compared. The embedding-health check that decides
# whether ANN indexes / semantic-dedup thresholds trained on cohort A
# still hold for cohort B. Quantization is the k-means lattice rule
# (bround(x*1e12), bigint — see _recenter's tie note).


@register(
    "emb_centroid_drift",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
             CASE WHEN 2 * vec_id < (SELECT COUNT(*) FROM embeddings)
                  THEN 1 ELSE 0 END AS is_a
      FROM embeddings
    ),
    comp AS (
      SELECT label, i AS pos,
             CAST(SUM(CASE WHEN is_a = 1
                           THEN CAST(round_even(ev[i] * 1e12, 0) AS BIGINT)
                           ELSE 0 END) AS HUGEINT) AS sum_a,
             CAST(SUM(CASE WHEN is_a = 0
                           THEN CAST(round_even(ev[i] * 1e12, 0) AS BIGINT)
                           ELSE 0 END) AS HUGEINT) AS sum_b
      FROM v, (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i
    ),
    counts AS (
      SELECT label,
             CAST(SUM(is_a) AS BIGINT) AS n_a,
             CAST(SUM(1 - is_a) AS BIGINT) AS n_b
      FROM v GROUP BY label
    ),
    drift AS (
      SELECT c.label, n.n_a, n.n_b,
             SUM(ABS(n.n_b * c.sum_a - n.n_a * c.sum_b)) AS drift_num
      FROM comp c JOIN counts n ON n.label = c.label
      GROUP BY c.label, n.n_a, n.n_b
    )
    SELECT label, n_a, n_b,
           CAST(drift_num AS VARCHAR) AS drift_num,
           CAST(drift_num AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1e12) AS drift_l1
    FROM drift
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L1 drift between the first- and second-half
    vec_id cohorts: cohort sizes, the exact cross-multiplied drift
    numerator (decimal-backed string; denominator n_a*n_b*1e12), and
    the one-division double — the embedding-distribution health check
    run before trusting cohort-A-tuned ANN/semantic-dedup parameters
    on cohort B.

    Scale: ONE (label, pos)-keyed aggregate over the exploded
    components (map-side combinable; 64 x |labels| output rows) plus a
    |labels|-row count aggregate; the drift algebra runs entirely on
    that bounded lattice. No vector ever joins a vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    v = emb.crossJoin(F.broadcast(n)).select(
        "label",
        (2 * F.col("vec_id") < F.col("n_vecs")).cast("int").alias("is_a"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    )
    q = F.bround(F.col("x") * F.lit(1.0e12)).cast("bigint")
    comp = (
        v.select("label", "is_a", F.posexplode("ev").alias("pos0", "x"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.sum(F.when(F.col("is_a") == 1, q).otherwise(F.lit(0)))
            .cast("decimal(38,0)")
            .alias("sum_a"),
            F.sum(F.when(F.col("is_a") == 0, q).otherwise(F.lit(0)))
            .cast("decimal(38,0)")
            .alias("sum_b"),
        )
    )
    counts = v.groupBy("label").agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
    )
    drift = (
        comp.join(F.broadcast(counts), "label")
        .groupBy("label", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("n_b").cast("decimal(38,0)") * F.col("sum_a")
                    - F.col("n_a").cast("decimal(38,0)") * F.col("sum_b")
                )
            ).alias("drift_num")
        )
    )
    return drift.select(
        "label",
        "n_a",
        "n_b",
        F.col("drift_num").cast("decimal(38,0)").cast("string").alias("drift_num"),
        (
            F.col("drift_num").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double") * F.lit(1.0e12))
        ).alias("drift_l1"),
    )


# ----------------------------------------------------- k-means elbow ----
#
# Model selection for the clustering stack: run the SAME deterministic
# Lloyd's loop (seed = first k vectors, KMEANS_ITERS rounds) at
# k in ELBOW_KS and report per k the total inertia — the elbow table
# that picks k for SemDeDup / IVF list counts. Inertia is a sum of
# per-vector squared distances (doubles), so each distance is quantized
# HALF-EVEN onto a 1e9 integer lattice and summed as bigints (the
# _recenter trick applied to the objective) — order-free, bit-identical
# across engines and partitionings; the single double division at the
# end is IEEE-correctly-rounded. The drop ratio column is the elbow
# signal itself: permille of the previous k's inertia.
ELBOW_KS = (2, 4, 8, 16)
ELBOW_Q = "1e9"


def _elbow_oracle() -> str:
    assign = """
      SELECT vec_id, ev, cid, dist FROM (
        SELECT v.vec_id, v.ev, c.cid,
               {l2} AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {l2}, c.cid) AS rn
        FROM v CROSS JOIN {csrc} c
      ) WHERE rn = 1
    """
    l2 = _L2_DUCK.format(a="v.ev", b="c.cv")
    recenter = """
      SELECT cid, list(c ORDER BY pos) AS cv FROM (
        SELECT cid, i AS pos,
               CAST(SUM(CAST(round_even(ev[i] * 1e12, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e12 AS c
        FROM {asrc}, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY cid, i
      ) GROUP BY cid
    """
    ctes = [
        """v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    )"""
    ]
    selects = []
    for k in ELBOW_KS:
        ctes.append(
            f"c0_{k} AS (SELECT vec_id AS cid, ev AS cv FROM v WHERE vec_id < {k})"
        )
        ctes.append(f"a1_{k} AS ({assign.format(l2=l2, csrc=f'c0_{k}')})")
        for r in range(2, KMEANS_ITERS + 1):
            ctes.append(f"c{r - 1}_{k} AS ({recenter.format(asrc=f'a{r - 1}_{k}')})")
            ctes.append(f"a{r}_{k} AS ({assign.format(l2=l2, csrc=f'c{r - 1}_{k}')})")
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS k, "
            f"CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters_used, "
            f"CAST(SUM(CAST(round_even(dist * {ELBOW_Q}, 0) AS BIGINT)) AS BIGINT)"
            f" AS inertia_q9 "
            f"FROM a{KMEANS_ITERS}_{k}"
        )
    body = "WITH " + ",\n    ".join(ctes)
    union = "\nUNION ALL\n".join(selects)
    return f"""{body},
    curve AS ({union})
    SELECT k, n_clusters_used, inertia_q9,
           CAST(inertia_q9 AS DOUBLE) / {ELBOW_Q} AS inertia,
           CAST(COALESCE((1000 * CAST(inertia_q9 AS HUGEINT)) //
                NULLIF(lag(inertia_q9) OVER (ORDER BY k), 0), 0) AS BIGINT)
             AS ratio_prev_permille
    FROM curve
    """


@register("emb_kmeans_elbow", oracle=_elbow_oracle())
def emb_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means elbow curve: the deterministic Lloyd's loop at k = 2, 4,
    8, 16 with per-k lattice-exact total inertia (1e9 quantization),
    clusters actually used, and the inertia ratio to the previous k —
    the model-selection table behind every "pick k" decision in the
    clustering/SemDeDup/IVF stack.

    Scale: ALL k curves ride ONE corpus scan per round — centroids
    carry a k tag (sum(ELBOW_KS) = 30 rows, always broadcastable), the
    assignment window partitions by (k, vec_id), and recenter collapses
    onto (k, cid, pos) — so the whole curve costs KMEANS_ITERS corpus
    passes total instead of len(ELBOW_KS) * KMEANS_ITERS (the round-7
    batching; per-k math is untouched, so the per-k union oracle still
    hash-matches). The inertia lattice sum is map-side combinable
    (order-free bigints)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    )
    # tagged seeds: for each k, the first k vectors (same init as the
    # per-k loop; the explode is over a 4-element literal array)
    cents = v.select(
        F.explode(F.array(*[F.lit(k).cast("long") for k in ELBOW_KS])).alias("k"),
        F.col("vec_id").alias("cid"),
        F.col("ev").alias("cv"),
    ).filter(F.col("cid") < F.col("k"))
    def assign_tagged(cdf: DataFrame) -> DataFrame:
        # argmin as a per-row array-min over the k-tagged centroid
        # arrays (len(ELBOW_KS) rows, always broadcastable) — the same
        # lexicographic struct(dist, cid) ordering as the per-group MIN
        # this replaces (= nearest centroid, ties to the lowest cid,
        # exactly the row_number(ORDER BY dist, cid) rule), but with
        # ZERO exchange: the old shape still shuffled one partial row
        # per (k, vector); this one never leaves the map side.
        cs = cdf.groupBy("k").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        return (
            v.crossJoin(F.broadcast(cs))
            .withColumn("m", F.expr(_NEAREST))
            .select(
                "k",
                "vec_id",
                "ev",
                F.col("m.cid").alias("cid"),
                F.col("m.dist").alias("dist"),
            )
        )

    qc = F.bround(F.col("x") * F.lit(1.0e12)).cast("bigint")
    assigned = assign_tagged(cents)
    for _ in range(KMEANS_ITERS - 1):
        cents = (
            assigned.select("k", "cid", F.posexplode("ev").alias("pos", "x"))
            .groupBy("k", "cid", "pos")
            .agg(
                (F.sum(qc).cast("double") / F.count(F.lit(1)) / F.lit(1.0e12)).alias(
                    "c"
                )
            )
            .groupBy("k", "cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s.getField("c"),
                ).alias("cv")
            )
        )
        assigned = assign_tagged(cents)
    curve = assigned.groupBy("k").agg(
        F.count_distinct("cid").cast("long").alias("n_clusters_used"),
        F.sum(F.expr(f"CAST(bround(dist * {ELBOW_Q}) AS BIGINT)"))
        .cast("long")
        .alias("inertia_q9"),
    )
    wlag = Window.partitionBy(F.lit(1)).orderBy("k")
    return (
        curve.withColumn("prev_q9", F.lag("inertia_q9").over(wlag))
        .select(
            "k",
            "n_clusters_used",
            "inertia_q9",
            (F.col("inertia_q9").cast("double") / F.lit(float(ELBOW_Q))).alias(
                "inertia"
            ),
            # the 1000* multiply runs in decimal(38,0) / HUGEINT: inertia_q9
            # is a corpus-proportional 1e9-quantized sum, so the int64 form
            # wraps silently at large corpora (the pareto-abc/PVM widening)
            F.coalesce(
                F.expr(
                    "(cast(inertia_q9 as decimal(38,0)) * 1000)"
                    " div nullif(prev_q9, 0)"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("ratio_prev_permille"),
        )
    )


# ------------------------------------------------ PCA power iteration ----
#
# Top principal direction of the embedding corpus by fixed-round power
# iteration on the (uncentered) Gram matrix — in-engine dimensionality
# analysis next to k-means and the JL projection: v <- A^T (A v), where
# A is the corpus quantized ONCE to an integer-milli matrix
# (round_even(x * 1000) — the lattice that makes every following step
# exact integer algebra). Per round: one corpus pass computes s_i =
# x_i . v (int64), a second collapses m_j = sum_i x_ij * s_i in
# decimal(38,0); the iterate is then rescaled by a POWER OF TEN built
# as a digit string ('1' || repeat('0', digits-6)) — no float power —
# and divided with explicit sign-trunc semantics (abs-then-divide, the
# engine-portable truncation; Spark decimal div and DuckDB // disagree
# on negatives). Magnitudes stay ~1e6, so PCA_ROUNDS rounds never
# overflow at any corpus size; the output is the 64-component integer
# loading vector (direction only — the normalization is documented).
PCA_ROUNDS = 3
PCA_KEEP_DIGITS = 6


def _pca_cte_chain() -> str:
    """The shared MATERIALIZED CTE chain quantize -> PCA_ROUNDS power
    iterations, ending at v{PCA_ROUNDS}; consumed by the PCA oracle and
    the anisotropy oracle so both score the SAME iterate."""
    ones = ", ".join(["1"] * 64)
    parts = [
        """WITH xq AS MATERIALIZED (
      SELECT vec_id,
             -- quantize from the DOUBLE value: float32 * int promotes
             -- differently across engines on half-ties (the _recenter
             -- rule; sf0.1 surfaced a boundary vector sf0.01 lacks)
             list_transform(embedding,
                            x -> CAST(round_even(CAST(x AS DOUBLE) * 1000, 0)
                                      AS BIGINT)) AS q
      FROM embeddings
    ),""",
        f"v0 AS (SELECT [{ones}] AS v),",
    ]
    for r in range(1, PCA_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT q, "
            f"list_reduce(list_transform(range(1, 65), k -> q[k] * v[k]), "
            f"(a, b) -> a + b) AS s FROM xq CROSS JOIN v{p}),"
        )
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT k, "
            f"CAST(SUM(CAST(q[k] AS HUGEINT) * s) AS HUGEINT) AS m "
            f"FROM s{r}, (SELECT unnest(range(1, 65)) AS k) GROUP BY k),"
        )
        parts.append(
            f"sh{r} AS (SELECT CAST('1' || repeat('0', "
            f"greatest(length(CAST(MAX(abs(m)) AS VARCHAR)) - {PCA_KEEP_DIGITS}, 0))"
            f" AS HUGEINT) AS sh FROM m{r}),"
        )
        parts.append(
            f"v{r} AS (SELECT list(CAST(CASE WHEN m < 0 THEN -((-m) // sh) "
            f"ELSE m // sh END AS BIGINT) ORDER BY k) AS v "
            f"FROM m{r} CROSS JOIN sh{r}),"
        )
    return "\n    ".join(parts).rstrip(",")


def _pca_oracle() -> str:
    return (
        _pca_cte_chain()
        + f"""
    SELECT k AS pos, CAST(v[k] AS BIGINT) AS loading
    FROM v{PCA_ROUNDS}, (SELECT unnest(range(1, 65)) AS k)
    """
    )


@register("emb_pca_power_iteration", oracle=_pca_oracle())
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus: PCA_ROUNDS power
    iterations on the integer-milli lattice, each round two corpus
    passes (dot with the broadcast iterate; component collapse in
    decimal(38,0)) and a digit-string power-of-ten rescale — the
    64-row integer loading vector, bit-identical across engines and
    partitionings, feeding whitening / OPQ-style rotations and the
    did-my-embedding-space-collapse drift check.

    Scale: the iterate is 64 integers broadcast per round; per-round
    cost is two scans of the checkpointed quantized corpus with
    map-side decimal accumulation — the k-means/pagerank iterative
    posture, nothing corpus-sized ever sorts or windows. The quantized
    corpus and the converged iterate are memoized per (session, sf_dir)
    — the anisotropy eval consumes the SAME chain instead of re-running
    the rounds (the kmeans_cents pattern)."""
    v = _pca_iterate_df(spark, sf_dir)
    return v.select(
        F.posexplode("v").alias("k0", "loading")
    ).select((F.col("k0") + 1).cast("long").alias("pos"), F.col("loading").cast("long"))


@shared
def _pca_xq_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integer-milli quantized corpus (q column only), checkpointed
    once per (session, sf_dir) and shared by the PCA rounds and the
    anisotropy Gram folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.bround(x.cast("double") * 1000).cast("long"),
        ).alias("q")
    ).localCheckpoint(eager=False)


@shared
def _pca_iterate_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row (v: array<bigint>) relation after PCA_ROUNDS power
    iterations — the exact chain the PCA and anisotropy oracles share."""
    return _pca_rounds(spark, _pca_xq_df(spark, sf_dir))


def _pca_rounds(spark: SparkSession, xq: DataFrame) -> DataFrame:
    d38 = "decimal(38,0)"
    v = spark.range(1).select(F.expr("array_repeat(1L, 64)").alias("v"))
    for _ in range(PCA_ROUNDS):
        s = xq.crossJoin(F.broadcast(v)).select(
            "q",
            F.expr(
                "aggregate(zip_with(q, v, (a, b) -> a * b), 0L, (acc, e) -> acc + e)"
            ).alias("s"),
        )
        m = (
            s.select(F.posexplode("q").alias("k0", "qk"), "s")
            .groupBy((F.col("k0") + 1).alias("k"))
            .agg(F.sum(F.col("qk").cast(d38) * F.col("s")).cast(d38).alias("m"))
        )
        sh = m.agg(
            F.expr(
                "CAST(concat('1', repeat('0', "
                f"greatest(length(CAST(MAX(abs(m)) AS STRING)) - {PCA_KEEP_DIGITS}, 0)))"
                " AS DECIMAL(38,0))"
            ).alias("sh")
        )
        v = (
            m.crossJoin(F.broadcast(sh))
            .select(
                "k",
                F.when(
                    F.col("m") < 0, -F.expr("(-m) div sh")
                )
                .otherwise(F.expr("m div sh"))
                .cast("long")
                .alias("vk"),
            )
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "vk"))),
                    lambda st: st["vk"],
                ).alias("v")
            )
            .localCheckpoint(eager=False)
        )
    return v


# ---------------------------------------------------- anisotropy score ----
#
# Embedding-space collapse check (Ethayarajh 2019; the "is my space
# degenerate" drift metric): the share of total (uncentered) variance
# captured by the top principal direction — anisotropy = v'Gv /
# (v'v * tr G) with G the milli-lattice Gram matrix and v the SAME
# power-iteration iterate the PCA operator publishes (the oracle reuses
# the identical CTE chain). Near 1/64 is isotropic; near 1 means the
# space collapsed onto one direction and similarity search is about to
# stop working. All sums are decimal(38,0); the ppm is an exact floor.


def _aniso_oracle() -> str:
    return (
        _pca_cte_chain()
        + f""",
    sv AS MATERIALIZED (
      SELECT q,
             list_reduce(list_transform(range(1, 65), k -> q[k] * v[k]),
                         (a, b) -> a + b) AS s
      FROM xq CROSS JOIN v{PCA_ROUNDS}
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS vgv,
             CAST(SUM(list_reduce(list_transform(range(1, 65),
                      k -> CAST(q[k] AS HUGEINT) * q[k]), (a, b) -> a + b))
                  AS HUGEINT) AS trace_g
      FROM sv
    ),
    vv AS (
      SELECT CAST(list_reduce(list_transform(range(1, 65),
                  k -> CAST(v[k] AS HUGEINT) * v[k]), (a, b) -> a + b)
             AS HUGEINT) AS vv
      FROM v{PCA_ROUNDS}
    )
    SELECT sums.n_vectors, CAST(sums.trace_g AS BIGINT) AS trace_g,
           CAST(vv.vv AS BIGINT) AS vv,
           CAST(sums.vgv AS VARCHAR) AS vgv,
           CAST((1000000 * sums.vgv) // (vv.vv * sums.trace_g) AS BIGINT)
             AS anisotropy_ppm,
           CAST(sums.vgv AS DOUBLE) / (CAST(vv.vv AS DOUBLE)
                * CAST(sums.trace_g AS DOUBLE)) AS anisotropy
    FROM sums CROSS JOIN vv
    """
    )


@register("emb_anisotropy_score", oracle=_aniso_oracle())
def emb_anisotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy of the embedding space: the exact share of uncentered
    variance along the power-iteration top direction (v'Gv over
    v'v * trace, decimal(38,0) throughout, ppm floor + double) — the
    space-collapse drift alarm read before trusting similarity search;
    1/64 is isotropic, 1.0 is a collapsed space.

    Scale: reuses the MEMOIZED PCA iterate (64 integers) and quantized
    corpus — in-session it adds ONE more scan of the shared checkpoint
    for the two Gram folds (it previously re-ran the whole PCA chain on
    a private quantization) — map-side decimal sums, zero shuffle
    beyond the 1-row aggregates."""
    xq = _pca_xq_df(spark, sf_dir)
    v = _pca_iterate_df(spark, sf_dir)
    d38 = "decimal(38,0)"
    sv = xq.crossJoin(F.broadcast(v)).select(
        "q",
        F.expr(
            "aggregate(zip_with(q, v, (a, b) -> a * b), 0L, (acc, e) -> acc + e)"
        ).alias("s"),
    )
    sums = sv.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("s").cast(d38) * F.col("s")).cast(d38).alias("vgv"),
        F.sum(
            F.expr(
                "aggregate(transform(q, e -> CAST(e AS DECIMAL(38,0)) * e), "
                "CAST(0 AS DECIMAL(38,0)), (acc, e) -> acc + e)"
            )
        )
        .cast(d38)
        .alias("trace_g"),
    )
    vvr = v.select(
        F.expr(
            "aggregate(transform(v, e -> CAST(e AS DECIMAL(38,0)) * e), "
            "CAST(0 AS DECIMAL(38,0)), (acc, e) -> acc + e)"
        )
        .cast(d38)
        .alias("vv")
    )
    return sums.crossJoin(F.broadcast(vvr)).select(
        "n_vectors",
        F.col("trace_g").cast("long").alias("trace_g"),
        F.col("vv").cast("long").alias("vv"),
        F.col("vgv").cast(d38).cast("string").alias("vgv"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * vgv)"
            " div (vv * trace_g) AS BIGINT)"
        ).alias("anisotropy_ppm"),
        (
            F.col("vgv").cast("double")
            / (F.col("vv").cast("double") * F.col("trace_g").cast("double"))
        ).alias("anisotropy"),
    )


# ------------------------------------------ k-center coreset (greedy) ----
#
# Gonzalez's greedy k-center / farthest-point traversal: start from
# vec_id 0, repeatedly add the vector FARTHEST (squared L2) from the
# chosen set — the classic 2-approximation coreset / facility-location
# selection that seeds diversity-aware sampling (and kmeans++-style
# inits) without any randomness. Ties break to the SMALLEST vec_id.
# Deterministic: per-pair L2 is the shared left-fold double; the min
# over <= K chosen centers and the global max are order-independent
# exact comparisons (no sums of floats across rows).
KCENTER_K = 8


def _kcenter_oracle(k: int = KCENTER_K) -> str:
    l2 = _L2_DUCK.format(a="v.ev", b="c.ev")
    parts = [
        """WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),""",
        "c1 AS (SELECT 1 AS round, vec_id, ev, CAST(0.0 AS DOUBLE) AS radius "
        "FROM v WHERE vec_id = 0),",
    ]
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT vec_id, ev FROM c{i}" for i in range(1, r))
        parts.append(
            f"""m{r} AS MATERIALIZED (
      SELECT v.vec_id, v.ev, MIN({l2}) AS dmin
      FROM v CROSS JOIN ({prev}) c
      GROUP BY v.vec_id, v.ev
    ),"""
        )
        parts.append(
            f"""c{r} AS (
      SELECT {r} AS round, vec_id, ev, dmin AS radius FROM (
        SELECT vec_id, ev, dmin,
               ROW_NUMBER() OVER (ORDER BY dmin DESC, vec_id) AS rn
        FROM m{r}
      ) WHERE rn = 1
    ),"""
        )
    union = " UNION ALL ".join(
        f"SELECT round, vec_id, radius FROM c{i}" for i in range(1, k + 1)
    )
    return (
        "\n    ".join(parts)
        + f"""
    sel AS ({union})
    SELECT CAST(round AS BIGINT) AS round, vec_id,
           radius
    FROM sel
    """
    )


@register("sample_coreset_kcenter", oracle=_kcenter_oracle())
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus: the KCENTER_K
    selected vectors with their selection round and radius (the max-min
    squared L2 at selection time — a monotone non-increasing coverage
    certificate; Gonzalez's bound says the optimal k-center radius is
    >= radius_K / 4 in squared distance).

    Scale: K-1 corpus passes, each a per-row array-min of the squared
    L2 against the <= K-row broadcast chosen set (folded to ONE array
    row — min over the array compares the same doubles the per-group
    MIN compared, bit-identically) feeding a one-row global argmax
    (max(struct(dmin, -vec_id)) — ties to the smallest id); per-pass
    shuffle is ONE partial row per partition — the old shape still
    exchanged one row per vector to group the crossJoin. No per-vector
    state is materialized between rounds — the min is recomputed
    against the tiny chosen set, which is the cheap side at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev"),
    ).localCheckpoint(eager=False)
    dmin_arr = F.expr(
        "array_min(transform(cvs, c -> "
        "aggregate(zip_with(ev, c, (x, y) -> (x - y) * (x - y)), 0D, "
        "(s, v) -> s + v)))"
    )
    chosen = v.filter(F.col("vec_id") == 0).select(
        F.lit(1).cast("long").alias("round"),
        "vec_id",
        F.col("ev").alias("cv"),
        F.lit(0.0).alias("radius"),
    )
    for r in range(2, KCENTER_K + 1):
        dmin = (
            v.crossJoin(F.broadcast(chosen.agg(F.collect_list("cv").alias("cvs"))))
            .select("vec_id", "ev", dmin_arr.alias("dmin"))
        )
        pick = (
            dmin.agg(
                F.max(
                    F.struct(
                        F.col("dmin").alias("dmin"),
                        (-F.col("vec_id")).alias("nv"),
                        F.col("ev").alias("ev"),
                    )
                ).alias("m")
            )
            .select(
                F.lit(r).cast("long").alias("round"),
                (-F.col("m.nv")).cast("long").alias("vec_id"),
                F.col("m.ev").alias("cv"),
                F.col("m.dmin").alias("radius"),
            )
        )
        chosen = chosen.unionByName(pick).localCheckpoint(eager=False)
    return chosen.select("round", "vec_id", "radius")
