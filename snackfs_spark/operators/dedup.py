"""Deduplication operators (SURVEY.md §2.C / BASELINE.md extension
mandate): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup — the standard large-scale training-data pipeline battery.

Design for 100 TB:
  - exact dedup is a content-hash groupBy (map-side partial agg);
  - MinHash/LSH replaces the O(n²) pairwise join with band-bucket
    equi-joins — candidates only where a band collides;
  - the full-Jaccard verifier runs only per candidate pair or within an
    explicitly bounded scope;
  - everything is deterministic (md5-keyed "permutations", left-fold
    double arithmetic), so the DuckDB oracle hash-checks even the LSH
    pipeline, not just the exact one.

Patterns follow the LSH similarity-join literature referenced in
PAPERS.md (EDBT 2022 LSH joins; ICDE 2021 distributed top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import md5_bucket
from snackfs_spark.memo import materialize_shared, shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table

N_PERMS = 16          # minhash signature length
BAND_SIZE = 4         # 4 bands of 4 rows -> LSH threshold ~ (1/4)^(1/4) ≈ 0.71
N_BANDS = N_PERMS // BAND_SIZE

# Word 3-gram shingles as a DuckDB CTE over documents.
SHINGLES_CTE = """shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, text,
           unnest(range(0, greatest(len(string_split(text, ' ')) - 2, 0))) AS i
    FROM documents
  )
)"""


def shingles_df(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """Word 3-gram shingles per document (distinct unless the consumer is
    duplicate-insensitive, e.g. min-hashing). The docs scan fans out
    BEFORE the explode so the x300 row amplification lands on every core,
    not the single scan task."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # Guard the explode: Spark's sequence(0, -1) yields a DESCENDING
    # [0, -1] (not empty), and slice(toks, i+1, 3) with that index throws
    # INVALID_PARAMETER_VALUE.START. Documents with < 3 tokens must
    # produce ZERO shingles — exactly what the oracle's
    # range(0, greatest(len-2, 0)) does.
    out = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 3, F.sequence(F.lit(0), F.size("toks") - 3)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.array_join(F.slice(F.col("toks"), F.col("i") + 1, 3), " ").alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content (md5), keep the smallest
    doc_id per hash. One shuffle keyed by a uniformly distributed hash —
    no skew by construction; duplicate groups collapse map-side."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# Universal-hashing minhash: ONE md5 per shingle (a 60-bit int from the
# hex prefix), then each "permutation" p is a cheap integer LCG over it —
# hp = ((2p+3)*h31 + 99991*p) mod (2^31-1). 16x less hashing than
# md5-per-permutation; pure int64 arithmetic, so both engines agree
# exactly. min() over ints is the minhash.
_H31_SQL = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647)"
_MINHASH_CTE = (
    SHINGLES_CTE
    + f""",
minhash AS (
  SELECT doc_id, p,
         MIN(((2 * p + 3) * {_H31_SQL} + 99991 * p) % 2147483647) AS mh
  FROM shingles, (SELECT unnest(range(0, {N_PERMS})) AS p)
  GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, p // {BAND_SIZE} AS band,
         md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY p)) AS band_sig
  FROM minhash GROUP BY doc_id, p // {BAND_SIZE}
)"""
)


# Shared recursive connected-components prefix (band candidates ->
# undirected edges -> min-label reachability). ONE constant consumed by
# BOTH the cluster_canonical and golden_record oracles — editing the
# clustering rule in one place keeps their components identical (the
# md5_fp lesson, applied to SQL).
_CC_REACH_CTES = """
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.doc_id
      WHERE r.label < e.dst
    )"""


def minhash_signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh15): the 16-permutation MinHash signature.
    min() ignores duplicates, so the shingle-distinct shuffle is skipped
    entirely. All 16 permutation mins are computed as COLUMNS of one
    doc_id-keyed aggregate — no 16x row explode, ONE shuffle for the
    whole signature, and partial aggregation collapses each task's
    shingles to a single 16-column row before it ships."""
    sh = shingles_df(spark, sf_dir, distinct=False)
    h31 = md5_bucket(F.col("shingle"), 2147483647)
    return sh.groupBy("doc_id").agg(
        *[
            F.min((((2 * p + 3) * h31) + 99991 * p) % 2147483647).alias(f"mh{p}")
            for p in range(N_PERMS)
        ]
    )


def minhash_bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_sig): LSH band signatures from a 16-hash
    MinHash signature, 4 rows per band. Band signatures are pure
    projections over the signature aggregate; the 4 band rows appear
    only after the heavy aggregate (x4 of #docs, not x16 of
    #shingles)."""
    sig = minhash_signature_df(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{p}").cast("string")
                            for p in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


@register(
    "dedup_minhash_lsh",
    oracle=(
        "WITH "
        + _MINHASH_CTE
        + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 16 minhashes → 4 bands →
    band-bucket self-join. The join is an equi-join on (band, band_sig) —
    at 100 TB this is the standard replacement for the O(n²) similarity
    join; only colliding buckets produce work."""
    bands = minhash_bands_df(spark, sf_dir)
    a = bands.alias("a")
    # shuffle_hash (not broadcast): both sides then carry an IDENTICAL
    # exchange on (band, band_sig), so ReuseExchange computes the heavy
    # shingle→signature aggregate ONCE and reads it twice — a broadcast
    # join would recompute it per side. Also the scale-out plan: bucket
    # keys are near-uniform (md5), so the shuffle is skew-free.
    b = bands.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@shared
def candidate_edges_df(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cand, und): the distinct MinHash-LSH band-collision pair
    relation and its undirected doubling — the candidate GRAPH every
    graph-family operator iterates on (k-core, LPA, modularity).
    Memoized per (session, sf_dir) with lazy localCheckpoints, the
    prefix-filter pattern (r7 VERDICT #6): in a bench session three
    graph operators would otherwise each re-run the shingle ->
    signature -> band pipeline; semantics and hashes unchanged (the
    expression is identical to dedup_minhash_lsh's)."""
    cand = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=False)
    und = (
        cand.union(
            cand.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    return (cand, und)


@shared
def distinct_shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT (doc_id, shingle) relation behind a shared lazy
    localCheckpoint (optimization r11): dedup_prefix_filter,
    split_contamination_check, text_boilerplate and the common-shingle
    scorer each built a PRIVATE checkpoint (or none) of this identical
    expression — four corpus scans + explode + distinct shuffles per
    battery where one suffices. Corpus-proportional like the prefix
    memo; a real cluster persists the shingle table once per corpus
    (computed by the first pipeline stage, read by dedup /
    decontamination / boilerplate alike — which is exactly the reuse
    this memo models locally). Materialization strategy is the
    SNACKFS_MEMO_MATERIALIZE policy (r11 VERDICT #3: localCheckpoint is
    the local-mode default; a cluster sets "reliable" + a durable
    checkpoint dir, or "none" when the shingle table exceeds it)."""
    return materialize_shared(
        shingles_df(spark, sf_dir, distinct=True), spark
    )


@shared
def cluster_labels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged min-label connected components over the shared MinHash
    candidate graph — the (doc_id, label) relation dedup_cluster_canonical
    and its three composing queries (golden_record, corpus_dedup_impact,
    split_cluster_safe) all derive from. Memoized per (session, sf_dir)
    like candidate_edges_df (optimization r11): each consumer previously
    re-ran the full minhash pipeline AND the whole propagation loop.
    Unlike the lazy memos, the build runs jobs (the convergence test is
    an action per round) — it happens once per session under the memo
    lock; the returned relation is an eager localCheckpoint, so consumers
    see a materialized, lineage-free table. Semantics identical: the
    expression is exactly the loop dedup_cluster_canonical inlined."""
    # The shared candidate relation — already (lazily) checkpointed;
    # every propagation round joins against it.
    pairs, _ = candidate_edges_df(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Iterate ONLY over nodes that touch an edge: singletons (the
    # vast majority of any corpus) can never change label, so the
    # loop runs on the candidate graph (≈ #near-dup docs), not the
    # corpus.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(12):  # >> any real near-dup component diameter
        prop = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), "label"
        )
        new_labels = (
            labels.unionAll(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def verify_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    cand: DataFrame,
    threshold: float,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs —
    the shared second stage of every candidate-generation strategy
    (LSH bands, prefix filtering). One shingle pass, semi-joined down
    to candidate docs BEFORE any per-pair work: the shingle volume that
    reaches the pair join is O(candidate docs), not O(corpus).
    collect_set dedups shingles, so the distinct shuffle is skipped.
    No forced broadcast anywhere: candidate count is corpus-
    proportional on near-dup-heavy crawls, so AQE picks the strategy
    (it still broadcasts when a side is actually small, and falls back
    to a skew-safe shuffled hash join when it is not)."""
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # callers that already materialized a shingle relation (e.g. the
    # prefix filter's checkpointed distinct pass) hand it in; otherwise
    # one duplicate-insensitive pass is built here (collect_set dedups)
    sh = shingles if shingles is not None else shingles_df(
        spark, sf_dir, distinct=False
    )
    sets = (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n"))
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=(
        "WITH "
        + _MINHASH_CTE
        + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.2
    """
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard VERIFICATION of the LSH candidate pairs —
    the second stage of the real near-dup pipeline (candidates from
    `dedup_minhash_lsh`, exact Jaccard only per candidate, threshold
    filters false positives). The candidate set is tiny relative to the
    corpus, so the shingle pass is semi-joined down to candidate docs
    before any per-pair work; the all-pairs shingle join never happens at
    any scale."""
    # The memoized candidate relation (candidate_edges_df) feeds BOTH
    # the semi-join that prunes the shingle pass and the final pair
    # join; without a checkpoint each consumer re-runs the whole
    # minhash band-join DAG (~30% of query time at sf0.1). It is the
    # same checkpointed relation the graph family and the clustering
    # consumers read (optimization r11 — previously this query built
    # its own private checkpoint of the identical expression).
    cand, _ = candidate_edges_df(spark, sf_dir)
    return verify_jaccard_pairs(spark, sf_dir, cand, threshold=0.2)


@register(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (('0x' || substr(md5(tok), 1, 8))::BIGINT >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM toks, (SELECT unnest(range(0, 32)) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token 32-bit hash (md5 prefix), ±1 vote per bit
    position, sign of the vote sum becomes the fingerprint bit. Near-dups
    at scale = hamming-close fingerprints, indexable by bit-block
    equi-joins (same LSH banding idea as minhash)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    hashed = toks.select(
        "doc_id", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h")
    )
    bits = (
        hashed.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(h >> b) & 1") == 1, 1).otherwise(-1)
            ).alias("vote")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, b)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


# Left-fold double arithmetic: both engines fold element-by-element in
# index order, so the doubles are bit-identical.
_DOT_SQL_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)
_NORM_SQL_DUCK = (
    "sqrt(list_reduce(list_transform(range(1, 65), i -> "
    "CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y))"
)

DOT_SPARK = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>), "
    "(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_DOT_SQL_DUCK} / ({_NORM_SQL_DUCK.format(v='a')} * {_NORM_SQL_DUCK.format(v='b')})
             AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL_DUCK} / ({_NORM_SQL_DUCK.format(v='a')} * {_NORM_SQL_DUCK.format(v='b')}) > 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above 0.4 cosine within the same
    label (threshold calibrated to the synthetic embedding geometry).
    The label equi-key plays the role an LSH/IVF bucket plays at scale —
    the join is bucket-local, never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    dot = F.expr(DOT_SPARK.format(a="a.embedding", b="b.embedding"))
    na = F.sqrt(F.expr(DOT_SPARK.format(a="a.embedding", b="a.embedding")))
    nb = F.sqrt(F.expr(DOT_SPARK.format(a="b.embedding", b="b.embedding")))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (na * nb)).alias("cosine"),
        )
        .filter(F.col("cosine") > 0.4)
    )


# ---------------------------------------------------------------------------
# Connected-components clustering over the LSH candidate pairs: the step
# that turns pairwise near-dup evidence into keep/drop decisions. Pairs
# are not transitive-closed — A~B and B~C must collapse into ONE cluster
# with ONE keeper — so the canonical pipeline is
#   pairs → connected components → min-id per component → keep keeper.


@register(
    "dedup_cluster_canonical",
    oracle=(
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + ","
        + _CC_REACH_CTES
        + """
    SELECT doc_id,
           MIN(label) AS cluster_id,
           CAST(doc_id = MIN(label) AS INT) AS is_keeper
    FROM reach GROUP BY doc_id
    """
    ),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    candidate graph by iterative min-label propagation, then the smallest
    doc_id per component is the keeper (`is_keeper=1` rows are the
    deduplicated corpus). Label propagation is a join + min-groupBy per
    round, converging in O(component diameter) rounds — near-dup
    clusters are shallow (dup chains, not long paths), so this is 2-3
    rounds in practice; `localCheckpoint` truncates lineage each round
    (a reliable checkpoint dir on a real cluster). Deterministic: min is
    order-insensitive, so the result is partitioning-independent."""
    labels = cluster_labels_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # labels is bounded by edge-incident docs — corpus-proportional in
    # the worst case, so no forced broadcast; AQE broadcasts iff small.
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster_id"),
        (F.col("doc_id") == F.coalesce("label", "doc_id")).cast("int").alias("is_keeper"),
    )


@register(
    "dedup_incremental",
    oracle="""
    SELECT n.doc_id,
           CAST(EXISTS (
             SELECT 1 FROM documents c
             WHERE c.doc_id < 400 AND md5(c.text) = md5(n.text)
           ) AS INT) AS dup_of_corpus
    FROM documents n WHERE n.doc_id >= 400
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch (doc_id >= 400 stands in for
    today's ingest) checked against the existing corpus by content hash —
    the daily-pipeline shape, where the corpus side is a pre-computed
    hash table (here: derived; in production: stored and bucketed by
    hash, so the probe is a co-located join). Left-semi join marks dups;
    the same plan with the LSH band table (`minhash_bands_df`) instead
    of md5 gives incremental NEAR-dup. The corpus side collapses to
    distinct hashes before the join — its volume is #unique, not
    #rows."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_hashes = (
        docs.filter(F.col("doc_id") < 400)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    new_batch = docs.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("h")
    )
    return (
        new_batch.join(corpus_hashes.withColumn("dup", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            F.coalesce("dup", F.lit(0)).cast("int").alias("dup_of_corpus"),
        )
    )


SIMHASH_BLOCKS = 4  # 8-bit blocks; hamming distance <= 3 guarantees a collision


@register(
    "dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (('0x' || substr(md5(tok), 1, 8))::BIGINT >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM toks, (SELECT unnest(range(0, 32)) AS b)
      GROUP BY doc_id, b
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) & 255 AS blk_val
      FROM fp, (SELECT unnest(range(0, 4)) AS blk)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
    FROM blocks a JOIN blocks b
      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIR generation — completes the fingerprint
    family: the 32-bit fingerprint splits into 4 disjoint 8-bit blocks;
    by pigeonhole, any pair within hamming distance 3 agrees on at least
    one whole block, so candidates come from equi-joins on (block,
    block_value) — never an all-pairs hamming scan — and the exact
    hamming check filters survivors. Identical banding shape to
    MinHash-LSH; at 100 TB the block join shuffles on near-uniform
    8-bit-block keys and pair work is collision-bounded."""
    fp = dedup_simhash(spark, sf_dir)
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BLOCKS - 1))).alias("blk"),
    ).withColumn("blk_val", F.expr("(simhash >> (blk * 8)) & 255"))
    a = blocks.alias("a")
    b = blocks.alias("b").hint("shuffle_hash")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


@register(
    "dedup_chunk_exact",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(toks[chunk_start + 1:chunk_start + 128], ' ')
               AS chunk_text
      FROM (
        SELECT doc_id, toks, unnest(range(0, len(toks), 64)) AS chunk_start
        FROM t
      )
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM chunks
    GROUP BY md5(chunk_text)
    HAVING COUNT(*) > 1
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup — the line/paragraph-level pass of a C4-
    style pipeline, at chunk granularity (the corpus has no paragraph
    breaks, so the unit is the 128-token sliding chunk with stride 64,
    the same chunking the RAG path uses). Reports duplicated chunks
    with copy counts and the keeper doc. Same scale shape as dedup_exact
    — one shuffle on a uniform content hash, map-side collapse — just
    on an exploded relation ~2x the token count. At 100 TB this catches
    shared boilerplate/quotes that document-level hashing never sees."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chunks = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr("sequence(0, size(toks) - 1, 64)")
            ).alias("chunk_start"),
            "toks",
        )
        .select(
            "doc_id",
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_start") + 1, 128), " "
            ).alias("chunk_text"),
        )
    )
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# Fuzzy-join knobs: prefix length compared, edit-distance threshold.
FUZZY_PREFIX_LEN = 32
FUZZY_MAX_DIST = 12


@register(
    "dedup_fuzzy_prefix",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             split_part(text, ' ', 1) AS blk,
             substr(text, 1, {FUZZY_PREFIX_LEN}) AS pre
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= {FUZZY_MAX_DIST}
    """,
)
def dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-duplicate pairs — the STRING-metric
    member of the dedup family (the set-metric members are the shingle
    Jaccard / MinHash pipeline): documents whose {FUZZY_PREFIX_LEN}-char
    prefixes are within levenshtein distance {FUZZY_MAX_DIST}, restricted
    to a blocking key (the first whitespace token — the classic
    record-linkage "blocking" step).

    Scale shape: edit distance has no algebraic decomposition, so the
    ONLY way it scales is never running it on the cross product. The
    equi-join on the blocking key turns O(n^2) comparisons into
    sum-over-blocks O(b^2) — shuffle-partitioned by block, parallel
    across blocks; a skewed block (stopword first token) is the known
    failure mode, handled the same way as any skewed join key (salting
    or multi-attribute blocking keys; at 100 TB you'd block on several
    cheap keys and union). The quadratic term touches only the fixed
    {FUZZY_PREFIX_LEN}-char prefix column, never full text."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("blk"),
        F.substring("text", 1, FUZZY_PREFIX_LEN).alias("pre"),
    )
    a = p.select(
        F.col("doc_id").alias("doc_a"),
        F.col("blk"),
        F.col("pre").alias("pre_a"),
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk"),
        F.col("pre").alias("pre_b"),
    )
    dist = F.levenshtein("pre_a", "pre_b")
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= FUZZY_MAX_DIST)
        .select(
            "doc_a", "doc_b", dist.cast("long").alias("edit_dist")
        )
    )


@register(
    "dedup_source_matrix",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    chunks AS (
      SELECT doc_id, source,
             md5(array_to_string(toks[chunk_start + 1:chunk_start + 64], ' '))
               AS h
      FROM (
        SELECT doc_id, source, toks, unnest(range(0, len(toks), 64)) AS chunk_start
        FROM t
      )
    ),
    c AS (
      SELECT h, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM chunks GROUP BY h, source
    ),
    pairs AS (
      SELECT source AS source_a, source AS source_b,
             n * (n - 1) // 2 AS n_pairs
      FROM c WHERE n >= 2
      UNION ALL
      SELECT a.source, b.source, a.n * b.n
      FROM c a JOIN c b ON a.h = b.h AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM pairs GROUP BY source_a, source_b
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-attribution matrix: for every (source_a, source_b) pair,
    how many duplicated CHUNK PAIRS link the two sources (and how many
    duplicate groups contribute) — duplication measured over aligned
    64-token chunks (the non-overlapping page/paragraph unit; the
    overlapping 128/64 RAG chunking lives in dedup_chunk_exact), the
    level where cross-feed boilerplate actually collides. This is the
    crawl-diagnostics view that tells you WHICH feeds mirror each other
    before you pick per-source mixture weights.

    Scale shape: the exploded chunk relation is first collapsed to one
    row per (chunk_hash, source) with a copy count — the same single
    uniformly-keyed shuffle as dedup_chunk_exact. Pair counts then come
    from COMBINATORICS over those counts (within a source: n*(n-1)/2;
    across two: n_a*n_b), never from a chunk-level self-join — a
    boilerplate banner with 100k copies contributes one row per source,
    not 10^10 join rows. The hash self-join runs over the collapsed
    relation (rows = dup groups x sources present), which is
    duplicate-volume-sized, not corpus-sized. All counts are bigint
    lattice sums — bit-identical under any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chunks = (
        docs.select("source", toks.alias("toks"))
        .select(
            "source",
            F.explode(
                F.expr("sequence(0, size(toks) - 1, 64)")
            ).alias("chunk_start"),
            "toks",
        )
        .select(
            "source",
            F.md5(
                F.array_join(
                    F.slice(F.col("toks"), F.col("chunk_start") + 1, 64), " "
                )
            ).alias("h"),
        )
    )
    # (h, source, n) feeds the within-source combinatorics AND both
    # sides of the hash self-join — unchckpointed, the tokenize + chunk
    # + md5 + collapse pipeline ran three times (r11 opt: 3 scans -> 1)
    c = (
        chunks.groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    within = c.filter(F.col("n") >= 2).select(
        F.col("source").alias("source_a"),
        F.col("source").alias("source_b"),
        F.expr("n * (n - 1) div 2").alias("n_pairs"),
    )
    a = c.select("h", F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    b = c.select("h", F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    cross = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
    )
    return (
        within.unionAll(cross)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("n_pairs").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


# Prefix-filtering (AllPairs/PPJoin) knobs: Jaccard threshold and the
# derived prefix length |d| - ceil(t*|d|) + 1 — the classic lemma: two
# sets with Jaccard >= t MUST share at least one element among each
# other's prefixes under a single global element order.
PREFIX_JACCARD_T = 0.5
# The same threshold as an exact rational, for the integer-arithmetic
# candidate prunes (length + positional filters) — keep in sync with
# PREFIX_JACCARD_T or recall silently drops below the threshold.
PREFIX_T_NUM, PREFIX_T_DEN = 1, 2
assert PREFIX_T_NUM / PREFIX_T_DEN == PREFIX_JACCARD_T

@register(
    "dedup_prefix_filter",
    oracle=(
        "WITH "
        + SHINGLES_CTE
        + f""",
    df AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
      FROM shingles GROUP BY shingle
    ),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.shingle) AS rk,
             COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM shingles s JOIN df d ON s.shingle = d.shingle
    ),
    prefix AS (
      SELECT doc_id, shingle, sz FROM ranked
      WHERE rk <= sz - CAST(CEIL({PREFIX_JACCARD_T} * sz) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter)
          >= {PREFIX_JACCARD_T}
    """
    ),
)
@shared
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join via PREFIX FILTERING (AllPairs/PPJoin family) —
    the exact-recall alternative to MinHash LSH for near-dup candidate
    generation. Shingles get one global order (document frequency
    ascending, i.e. rarest first); each doc keeps only its prefix of
    length |d| - ceil(t|d|) + 1 under that order, and the prefix lemma
    guarantees every pair with Jaccard >= t collides on at least one
    prefix shingle. Unlike LSH (probabilistic recall, fixed candidate
    cost) this has 100% recall at threshold t and its candidate volume
    adapts to data rarity — rare-shingle prefixes almost never collide.

    Scale shape: df counting and prefix ranking are the same
    shingle-keyed shuffles the LSH pipeline already pays; the candidate
    join runs over PREFIX rows only (a (1-t) fraction of the shingle
    volume, on the rarest — least skewed — keys). Verification is
    candidate-driven exact Jaccard, shared shape with
    dedup_ngram_jaccard. The df-ascending order is the load-bearing
    trick: it puts the LEAST collidable shingles in prefixes, which is
    what keeps candidates near the true-pair count.

    The verified result is memoized per (session, sf_dir): it doubles
    as the exact-recall TRUTH set dedup_lsh_tuning scores against, and
    in a bench session both headline queries would otherwise pay the
    ~full candidate join twice (r7 VERDICT #6). The memo is a lazy
    localCheckpoint — materialized by whichever query runs first,
    reused by the other; semantics and hashes unchanged."""
    sh = distinct_shingles_df(spark, sf_dir)
    from pyspark.sql import Window

    # shuffle_hash, never broadcast: df_counts is shingle-cardinality —
    # corpus-proportional, ~GBs deserialized at sf10+ (a broadcast
    # attempt OOMed the 100x sweep; compressed shuffle stats under-
    # estimate it past the 64 MB threshold). The shuffled join also
    # lands on the SAME shingle key as the aggregate that produced
    # df_counts, so the exchange is reused — the minhash band-join
    # pattern.
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).hint(
        "shuffle_hash"
    )
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # per-doc set sizes come from a map-side-combined groupBy over the
    # (already checkpointed) shingle relation, not a second Window exec:
    # the count is order-free, so paying a sort-based window for it
    # doubles the window stage for nothing; the sizes relation is
    # doc-cardinality and joins back on the window's own partition key.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ranked = (
        sh.join(df_counts, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(wdoc).alias("rk"),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.ceil(PREFIX_JACCARD_T * F.col("sz")) + 1
    ).select(
        "doc_id",
        "shingle",
        F.col("rk").cast("int").alias("rk"),
        F.col("sz").cast("int").alias("sz"),
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("rk").alias("rk_a"),
        F.col("sz").alias("sz_a"),
    )
    # the prefix relation is corpus-proportional: like df_counts above it
    # must NEVER be broadcast (the rk/sz columns made it look small
    # enough post-filter that AQE tried at the 100x scale and OOMed
    # deserializing the hashed relation) — pin the shuffled strategy
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("rk").alias("rk_b"),
        F.col("sz").alias("sz_b"),
    ).hint("shuffle_hash")
    # PPJoin's two EXACT candidate prunes (recall-preserving, so the
    # brute-force-equality test still holds), in integer arithmetic so no
    # float rounding can drop a borderline true pair. Both derive from
    # the rational form of the threshold (t = NUM/DEN):
    #   length filter   J >= t  =>  min(sz)/max(sz) >= t
    #                   <=> DEN*min(sz) >= NUM*max(sz)
    #   positional      overlap <= 1 + min(remaining suffix) on the FIRST
    #                   common ordered shingle, which for a true pair must
    #                   reach ceil(t/(1+t)*(sa+sb)) = ceil(NUM*(sa+sb) /
    #                   (NUM+DEN)), i.e. (NUM*(sa+sb) + NUM+DEN-1) div
    #                   (NUM+DEN) in exact integers
    length_ok = (
        PREFIX_T_DEN * F.least(F.col("sz_a"), F.col("sz_b"))
        >= PREFIX_T_NUM * F.greatest(F.col("sz_a"), F.col("sz_b"))
    )
    nd = PREFIX_T_NUM + PREFIX_T_DEN
    # sz values are doc shingle counts (< 2^26 even at absurd doc sizes),
    # so the double division is exact and floor() is the integer div
    min_overlap = F.floor(
        (PREFIX_T_NUM * (F.col("sz_a") + F.col("sz_b")) + (nd - 1)) / nd
    )
    ubound = 1 + F.least(
        F.col("sz_a") - F.col("rk_a"), F.col("sz_b") - F.col("rk_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(length_ok)
        .filter(ubound >= min_overlap)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return verify_jaccard_pairs(
        spark, sf_dir, cand, threshold=PREFIX_JACCARD_T, shingles=sh
    ).localCheckpoint(eager=False)


# ----------------------------------------------------- LSH tuning report ----
#
# Choosing (bands, rows) is THE MinHash-LSH deployment decision: more
# bands of fewer rows lowers the match threshold (recall up, precision
# down), fewer bands of more rows the reverse. The classic guidance is
# the S-curve formula 1-(1-s^r)^b — a model. This report measures the
# real thing: each banding of the SAME 16-hash signature generates its
# candidate set, scored against the EXACT-recall truth set the prefix
# filter produces at J >= PREFIX_T_NUM/PREFIX_T_DEN. Configs bracket
# the truth threshold: b8r2 matches near s=(1/8)^(1/2)~0.35 (recall
# high), b4r4 ~0.71, b2r8 ~0.92 (precision high).
LSH_CONFIGS = ((8, 2), (4, 4), (2, 8))  # (bands, rows), bands*rows = N_PERMS


def _lsh_tuning_oracle() -> str:
    cfg_selects = []
    for nb, r in LSH_CONFIGS:
        cfg_selects.append(f"""
      SELECT 'b{nb}r{r}' AS config, doc_id, p // {r} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY p)) AS band_sig
      FROM minhash GROUP BY doc_id, p // {r}""")
    cfg_bands = "\n      UNION ALL".join(cfg_selects)
    cfg_values = ", ".join(f"('b{nb}r{r}', {nb}, {r})" for nb, r in LSH_CONFIGS)
    return (
        "WITH "
        + _MINHASH_CTE
        + f""",
    cfg_bands AS ({cfg_bands}
    ),
    cand AS (
      SELECT DISTINCT a.config, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cfg_bands a JOIN cfg_bands b
        ON a.config = b.config AND a.band = b.band
       AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM shingles a
      JOIN shingles b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    -- exact truth at J >= NUM/DEN as an integer comparison:
    -- i/(sa+sb-i) >= N/D  <=>  D*i >= N*(sa+sb-i). Equivalent to the
    -- float form the prefix-filter oracle uses (rational gaps around
    -- the threshold are >= 1/(2*union) >> ulp), but provably exact.
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE {PREFIX_T_DEN} * i.i >= {PREFIX_T_NUM} * (sa.n + sb.n - i.i)
    ),
    tcount AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth),
    configs(config, bands, rows_per_band) AS (VALUES {cfg_values}),
    per_cfg AS (
      SELECT c.config,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_true_found
      FROM cand c
      LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      GROUP BY c.config
    )
    SELECT cf.config, CAST(cf.bands AS BIGINT) AS bands,
           CAST(cf.rows_per_band AS BIGINT) AS rows_per_band,
           COALESCE(p.n_candidates, 0) AS n_candidates,
           COALESCE(p.n_true_found, 0) AS n_true_found,
           tc.n_true_pairs,
           CASE WHEN COALESCE(p.n_candidates, 0) = 0 THEN 0.0e0
                ELSE CAST(p.n_true_found AS DOUBLE) / p.n_candidates
           END AS precision,
           CASE WHEN tc.n_true_pairs = 0 THEN 0.0e0
                ELSE CAST(COALESCE(p.n_true_found, 0) AS DOUBLE)
                     / tc.n_true_pairs
           END AS recall
    FROM configs cf
    CROSS JOIN tcount tc
    LEFT JOIN per_cfg p ON p.config = cf.config
    """
    )


@register("dedup_lsh_tuning", oracle=_lsh_tuning_oracle())
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH parameter tuning: precision and recall of each
    (bands, rows) banding of the shared 16-hash MinHash signature
    against the prefix filter's exact-recall truth set at
    J >= 1/2 — the empirical S-curve a deployment reads instead of
    trusting the 1-(1-s^r)^b model. One row per config.

    Scale: the signature aggregate is computed ONCE (the same one-pass
    16-column plan as dedup_minhash_lsh) and checkpointed; every
    config's bands are projections of it, unioned so ALL configs share
    one band-keyed self-join shuffle. The truth side reuses the prefix
    filter's adaptive candidate generation (exact recall, candidate
    volume tracks data rarity — never all-pairs). Candidate and truth
    relations are corpus-proportional: joined shuffled, never
    broadcast (the 100x-sweep OOM rule)."""
    sig = minhash_signature_df(spark, sf_dir).localCheckpoint(eager=False)
    cfg_bands = None
    for nb, r in LSH_CONFIGS:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{p}").cast("string")
                                for p in range(b * r, (b + 1) * r)
                            ],
                        )
                    ).alias("band_sig"),
                )
                for b in range(nb)
            ]
        )
        one = sig.select(
            F.lit(f"b{nb}r{r}").alias("config"),
            "doc_id",
            F.explode(bands).alias("bs"),
        ).select("config", "doc_id", "bs.band", "bs.band_sig")
        cfg_bands = one if cfg_bands is None else cfg_bands.unionByName(one)
    right = cfg_bands.select(
        F.col("config"),
        F.col("doc_id").alias("doc_b"),
        "band",
        "band_sig",
    ).hint("shuffle_hash")
    cand = (
        cfg_bands.select(
            "config", F.col("doc_id").alias("doc_a"), "band", "band_sig"
        )
        .join(right, ["config", "band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("config", "doc_a", "doc_b")
        .distinct()
    )
    truth = (
        dedup_prefix_filter(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    tcount = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    per_cfg = (
        cand.join(truth.withColumn("is_true", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).alias("n_true_found"),
        )
    )
    configs = spark.createDataFrame(
        [(f"b{nb}r{r}", nb, r) for nb, r in LSH_CONFIGS],
        "config string, bands long, rows_per_band long",
    )
    return (
        configs.crossJoin(F.broadcast(tcount))
        .join(per_cfg, "config", "left")
        .select(
            "config",
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_true_found", F.lit(0)).cast("long").alias("n_true_found"),
            F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
            F.when(F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_true_found").cast("double") / F.col("n_candidates")
            )
            .alias("precision"),
            F.when(F.col("n_true_pairs") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("n_true_found", F.lit(0)).cast("double")
                / F.col("n_true_pairs")
            )
            .alias("recall"),
        )
    )


# ------------------------------------------------- span-level exact dedup ----
#
# Lee et al., "Deduplicating Training Data Makes Language Models Better"
# (ACL 2022) deduplicate at the SUBSTRING level with a suffix array: any
# 50-token span appearing twice in the corpus is a duplicate, even when
# the containing documents differ. A suffix array is a single-machine
# construction; the Spark-first equivalent is rolling k-gram positions +
# a hash-partitioned group-by — same detection guarantee for spans >= K
# tokens, linear in corpus size, no global structure:
#
#   positions (doc_id, i, md5(gram))   — O(total tokens) rows, generated
#                                        inside the scan project;
#   duplicated grams                   — ONE shuffle keyed by the
#                                        uniformly distributed gram hash;
#   per-doc span merge                 — gaps-and-islands window
#                                        PARTITIONED BY doc, over the
#                                        duplicated positions only
#                                        (bounded by doc length — never a
#                                        global window).
#
# K is 5 words here (the fixture's docs are ~50 tokens; 50 would find
# nothing); the algorithm is K-independent.

SPAN_K = 5  # span-duplicate gram width, in whitespace tokens


def _gram_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, g=md5(k-gram)) for every k-gram start position. Same
    guarded-sequence shape as shingles_df (Spark's sequence(0, -1) is a
    descending two-element array, not empty)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= SPAN_K,
                    F.sequence(F.lit(0), F.size("toks") - SPAN_K),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            F.md5(F.array_join(F.slice(F.col("toks"), F.col("i") + 1, SPAN_K), " ")).alias(
                "g"
            ),
        )
    )


@register(
    "dedup_span_ngrams",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, i,
             md5(array_to_string(
                 list_slice(string_split(text, ' '), i + 1, i + {SPAN_K}), ' ')) AS g
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(len(string_split(text, ' ')) - {SPAN_K - 1}, 0))) AS i
        FROM documents
      )
    ),
    dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    dp AS (SELECT doc_id, i FROM pos WHERE g IN (SELECT g FROM dup)),
    isl AS (
      SELECT doc_id, i,
             SUM(CASE WHEN prev IS NULL OR i - prev > {SPAN_K} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT doc_id, i,
                   lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM dp)
    ),
    spans AS (
      SELECT doc_id, island, MIN(i) AS s, MAX(i) + {SPAN_K - 1} AS e
      FROM isl GROUP BY doc_id, island
    )
    SELECT sp.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(sp.e - sp.s + 1) AS BIGINT) AS dup_tokens,
           CAST(SUM(sp.e - sp.s + 1) AS DOUBLE)
             / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_frac
    FROM spans sp JOIN documents d ON sp.doc_id = d.doc_id
    GROUP BY sp.doc_id, d.text
    """,
)
def dedup_span_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al. 2022, suffix-
    array dedup re-expressed Spark-first): every K-token span occurring in
    >= 2 distinct documents is duplicated; overlapping/adjacent duplicated
    spans merge into maximal spans per document (gaps-and-islands). Output
    is the per-doc duplication report a filtering pass keys on:
    (n_dup_spans, dup_tokens, dup_frac)."""
    # checkpoint the O(total tokens) positions relation: it feeds BOTH
    # the dup-gram aggregate and the semi-join probe side, and without
    # the cut the tokenize+md5 projection runs twice (code-review r5:
    # three parquet scans, zero reuse — same fix as dedup_prefix_filter's
    # shingle checkpoint)
    pos = _gram_positions(spark, sf_dir).localCheckpoint(eager=False)
    # ">= 2 distinct docs" is exactly "min(doc_id) <> max(doc_id)": a
    # fully map-side-combinable pair of aggregates, where the old
    # count_distinct planned as a two-phase distinct (an extra exchange
    # of the (g, doc_id) pair relation before the per-g count).
    dup = (
        pos.groupBy("g")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("g")
    )
    dp = pos.join(dup, "g", "left_semi").select("doc_id", "i")

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("i")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = dp.withColumn("prev", F.lag("i").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull() | ((F.col("i") - F.col("prev")) > SPAN_K), 1
            ).otherwise(0)
        ).over(run),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), (F.max("i") + (SPAN_K - 1)).alias("e")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    return per_doc.join(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "dup_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double")).alias(
            "dup_frac"
        ),
    )


# --------------------------------------------- entity resolution (records) ----
#
# Record linkage / entity resolution: the relational-dedup counterpart of
# the document battery above. The classic scalable shape (Fellegi-Sunter
# via blocking): candidate pairs come from an EQUI-JOIN on a cheap
# blocking key — never an all-pairs comparison — and only blocked pairs
# pay the edit-distance verify. At 100 TB the blocking join shuffles on a
# uniform key and block sizes bound the per-task verify work.
#
# TPC-H customers are synthetic-clean, so dirty registrations are
# injected deterministically (same md5-bucket selections in both
# engines): a typo'd duplicate for one bucket of customers (edit
# distance 1 — must link) and a same-block DECOY identity for another
# (shares the blocking key, far name — must NOT link). The
# blocking+verify pipeline itself is written independently per engine.

ER_LEV_MAX = 2  # verify threshold: link iff levenshtein(name_a, name_b) <= 2


@register(
    "dedup_entity_resolution",
    oracle=f"""
    WITH regs AS (
      SELECT c_custkey AS reg_id, c_custkey AS entity_hint, c_name,
             c_nationkey, c_mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey + 1000000000, c_custkey,
             replace(c_name, 'Customer#', 'Customer #'),
             c_nationkey, c_mktsegment
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 7 = 2
      UNION ALL
      SELECT c_custkey + 2000000000, c_custkey,
             'Client#' || substr(c_name, 10),
             c_nationkey, c_mktsegment
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 11 = 4
    ),
    blocked AS (
      SELECT CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|'
               || substr(c_name, -4) AS blk,
             reg_id, c_name
      FROM regs
    )
    SELECT a.reg_id AS reg_a, b.reg_id AS reg_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.reg_id < b.reg_id
    WHERE levenshtein(a.c_name, b.c_name) <= {ER_LEV_MAX}
    """,
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over customer registrations: block on
    (nationkey, mktsegment, name-suffix), equi-self-join within blocks,
    link iff edit distance <= 2. Injected typo-duplicates must all link;
    injected same-block decoys must all be rejected (pinned in
    tests/test_round5_ops.py)."""
    cust = load_table(spark, sf_dir, "customer")
    bucket7 = md5_bucket(F.col("c_custkey").cast("string"), 7)
    bucket11 = md5_bucket(F.col("c_custkey").cast("string"), 11)
    base = cust.select(
        F.col("c_custkey").cast("long").alias("reg_id"),
        "c_name",
        "c_nationkey",
        "c_mktsegment",
    )
    typo = (
        cust.filter(bucket7 == 2)
        .select(
            (F.col("c_custkey") + 1000000000).cast("long").alias("reg_id"),
            F.regexp_replace("c_name", "Customer#", "Customer #").alias("c_name"),
            "c_nationkey",
            "c_mktsegment",
        )
    )
    decoy = (
        cust.filter(bucket11 == 4)
        .select(
            (F.col("c_custkey") + 2000000000).cast("long").alias("reg_id"),
            F.concat(F.lit("Client#"), F.expr("substring(c_name, 10)")).alias("c_name"),
            "c_nationkey",
            "c_mktsegment",
        )
    )
    regs = base.unionByName(typo).unionByName(decoy)
    blocked = regs.select(
        F.concat_ws(
            "|",
            F.col("c_nationkey").cast("string"),
            F.col("c_mktsegment"),
            F.expr("substring(c_name, -4)"),
        ).alias("blk"),
        "reg_id",
        "c_name",
    )
    a = blocked.select(
        F.col("blk"), F.col("reg_id").alias("reg_a"), F.col("c_name").alias("name_a")
    )
    b = blocked.select(
        F.col("blk"), F.col("reg_id").alias("reg_b"), F.col("c_name").alias("name_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("reg_a") < F.col("reg_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev") <= ER_LEV_MAX)
        .select("reg_a", "reg_b", "name_a", "name_b", "lev")
    )


# Weighted similarity join: the tf-weighted cousin of the set-based
# Jaccard verify. Threshold 0.6 compared RATIONALLY — cos >= 3/5 iff
# 25·num² >= 9·‖a‖²·‖b‖² — so the gate is exact integer arithmetic and
# the only float (the reported cosine) is one per-row sqrt + divide,
# identical in both engines.
TF_COS_T_NUM2 = 9    # threshold² numerator   (0.6² = 9/25)
TF_COS_T_DEN2 = 25   # threshold² denominator


@register(
    "dedup_tf_cosine",
    oracle=(
        "WITH "
        + _MINHASH_CTE
        + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    tfrel AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')
               AS shingle,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(len(string_split(text, ' ')) - 2, 0))) AS i
        FROM documents
      )
      GROUP BY 1, 2
    ),
    norms AS (SELECT doc_id, SUM(tf * tf) AS nrm FROM tfrel GROUP BY 1),
    nums AS (
      SELECT c.doc_a, c.doc_b, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS num
      FROM cand c
      JOIN tfrel ta ON ta.doc_id = c.doc_a
      JOIN tfrel tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY 1, 2
    )
    SELECT n.doc_a, n.doc_b, n.num,
           CAST(n.num AS DOUBLE) / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
    FROM nums n
    JOIN norms na ON na.doc_id = n.doc_a
    JOIN norms nb ON nb.doc_id = n.doc_b
    WHERE 25 * CAST(n.num AS HUGEINT) * n.num >= 9 * CAST(na.nrm AS HUGEINT) * nb.nrm
    """
    ),
)
def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by TF-WEIGHTED shingle cosine >= 0.6 over the
    MinHash-LSH candidate set — repetition-sensitive where Jaccard is
    not (a doc that repeats a shingle 10x is 'closer' to another
    repeater than to a doc mentioning it once). The oracle computes
    pair numerators with a shingle-keyed pair join; the engine never
    joins on shingles for pairs — it folds each candidate pair's
    broadcast-free map intersection in codegen (cross-algorithm).

    Scale: tf vectors are built ONLY for candidate docs (semi-join
    before any per-pair work, the verify_jaccard_pairs discipline);
    the per-pair fold is O(|smaller doc vocabulary|) with int64 sums —
    order-free, so partitioning can't flap the hash. The threshold
    gate is exact rational arithmetic (25·num² vs 9·na·nb in
    decimal), no float boundary anywhere."""
    # Shared memoized candidate relation (optimization r11 — was an
    # inline rebuild of the identical band self-join expression).
    cand, _ = candidate_edges_df(spark, sf_dir)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    tf = (
        shingles_df(spark, sf_dir, distinct=False)
        .join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vec = tf.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("shingle", "tf"))).alias("m"),
        F.sum(F.col("tf") * F.col("tf")).alias("nrm"),
    )
    va = vec.select(
        F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"), F.col("nrm").alias("na")
    )
    vb = vec.select(
        F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"), F.col("nrm").alias("nb")
    )
    num = F.expr(
        "aggregate(map_keys(ma), 0L,"
        " (acc, k) -> acc + element_at(ma, k) * coalesce(element_at(mb, k), 0L))"
    )
    # Spark decimals cap at 38 digits and non-ANSI overflow is NULL —
    # which a filter would swallow as a silently dropped pair while the
    # oracle's HUGEINT either holds the value or errors loudly. Guard:
    # a NULL side can only mean overflow (inputs are non-null), so it
    # raises instead of filtering (code-review r5c). Bound for comfort:
    # both sides stay under 1e38 for any doc with <= ~3e8 tokens.
    gl = (
        F.lit(TF_COS_T_DEN2).cast("decimal(19,0)")
        * F.col("num").cast("decimal(19,0)")
        * F.col("num").cast("decimal(19,0)")
    )
    gr = (
        F.lit(TF_COS_T_NUM2).cast("decimal(19,0)")
        * F.col("na").cast("decimal(19,0)")
        * F.col("nb").cast("decimal(19,0)")
    )
    gate = F.when(
        F.col("_gl").isNull() | F.col("_gr").isNull(),
        F.assert_true(
            F.lit(False),
            F.lit(
                "dedup_tf_cosine: rational gate exceeded decimal(38,0); "
                "re-derive with wider limbs before trusting this corpus"
            ),
        ).cast("boolean"),
    ).otherwise(F.col("_gl") >= F.col("_gr"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("num", num)
        .withColumn("_gl", gl)
        .withColumn("_gr", gr)
        .filter(gate)
        .select(
            "doc_a",
            "doc_b",
            "num",
            (
                F.col("num").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cosine"),
        )
    )


# Asymmetric containment: |Sa ∩ Sb| / |Sa| — catches the small doc
# COPIED INTO a big one, which symmetric Jaccard dilutes below any
# usable threshold. Gate held rational (5·inter >= 4·|contained|), no
# float boundary. Candidates come from the shared LSH bands; a
# production containment pass over size-skewed corpora upgrades the
# candidate stage to size-stratified banding (the dedup_lsh_tuning
# machinery measures exactly that recall), and the verify below is
# unchanged — the oracle runs the SAME candidate set, so parity checks
# the verify semantics, not band recall.


@register(
    "dedup_containment",
    oracle=(
        "WITH "
        + _MINHASH_CTE
        + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY 1
    ),
    dirs AS (
      SELECT i.doc_a AS contained_doc, i.doc_b AS container_doc,
             i.inter, na.n AS n_contained, nb.n AS n_container
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE 5 * i.inter >= 4 * na.n
      UNION ALL
      SELECT i.doc_b, i.doc_a, i.inter, nb.n, na.n
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE 5 * i.inter >= 4 * nb.n
    )
    SELECT contained_doc, container_doc, inter, n_contained, n_container,
           CAST((1000 * inter) // n_contained AS BIGINT) AS containment_permille
    FROM dirs
    """
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-subset pairs: (contained, container) where the
    contained doc's distinct shingles are >= 80% present in the
    container — both directions emitted when mutual. The asymmetric
    score is what exact-substring and copy-paste dedup policies act on
    (drop the contained doc, keep the container).

    Scale: identical discipline to verify_jaccard_pairs — shingle sets
    materialize only for candidate docs (semi-join first), the
    per-pair intersection is one array_intersect in codegen, and the
    direction fan-out is at most x2 of qualifying pairs. The gate is
    exact integer arithmetic; the permille is truncating division,
    identical in both engines."""
    # Shared memoized candidate relation (optimization r11 — was an
    # inline rebuild of the identical band self-join expression).
    cand, _ = candidate_edges_df(spark, sf_dir)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        shingles_df(spark, sf_dir, distinct=False)
        .join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .select("doc_id", "sh", F.size("sh").cast("long").alias("n"))
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    paired = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
    )
    a_in_b = 5 * F.col("inter") >= 4 * F.col("n_a")
    b_in_a = 5 * F.col("inter") >= 4 * F.col("n_b")
    dirs = F.array_compact(
        F.array(
            F.when(
                a_in_b,
                F.struct(
                    F.col("doc_a").alias("contained_doc"),
                    F.col("doc_b").alias("container_doc"),
                    F.col("n_a").alias("n_contained"),
                    F.col("n_b").alias("n_container"),
                ),
            ),
            F.when(
                b_in_a,
                F.struct(
                    F.col("doc_b").alias("contained_doc"),
                    F.col("doc_a").alias("container_doc"),
                    F.col("n_b").alias("n_contained"),
                    F.col("n_a").alias("n_container"),
                ),
            ),
        )
    )
    return (
        paired.select("inter", F.explode(dirs).alias("d"))
        .select(
            F.col("d.contained_doc").alias("contained_doc"),
            F.col("d.container_doc").alias("container_doc"),
            "inter",
            F.col("d.n_contained").alias("n_contained"),
            F.col("d.n_container").alias("n_container"),
            F.expr("(1000 * inter) div d.n_contained").cast("long").alias(
                "containment_permille"
            ),
        )
    )


@register(
    "dedup_golden_record",
    oracle=(
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + ","
        + _CC_REACH_CTES
        + """,
    members AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT m.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(d.n_chars) AS BIGINT) AS golden_n_chars,
           array_to_string(list_sort(list(DISTINCT d.source)), ',') AS sources,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT d.lang) > 1 AS INT) AS lang_conflict
    FROM members m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY 1
    """
    ),
)
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction — the MDM verb that
    completes the dedup story (detect → cluster → MERGE THE SURVIVOR):
    one row per near-dup cluster carrying the field-level merge policy
    (longest text wins n_chars, provenance union as a sorted source
    list) and the conflict signal (members disagreeing on lang) that a
    survivorship rulebook must adjudicate. Composes directly on
    dedup_cluster_canonical's min-label components.

    Scale: adds ONE doc_id-keyed join + one cluster-keyed aggregate on
    top of the label propagation (whose round cost is the candidate
    graph, not the corpus); collect_set holds per-cluster distinct
    sources — bounded by the source vocabulary, not membership."""
    labels = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source", "lang"
    )
    return (
        docs.join(labels, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").cast("long").alias("golden_n_chars"),
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias("sources"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
            (F.count_distinct("lang") > 1).cast("int").alias("lang_conflict"),
        )
    )


# ------------------------------------------------ winnowing fingerprints ----
#
# Winnowing (Schleimer, Wilkerson, Aiken 2003 — the MOSS fingerprinting
# algorithm): slide a window of W consecutive k-gram hashes over each
# document and select the RIGHTMOST MINIMAL hash of every window. The
# selected set is a ~2/(W+1)-density sketch with a LOCAL guarantee the
# uniform-random sketches (MinHash) lack: any shared run of at least
# W+K-1 tokens yields at least one shared selected fingerprint, because
# a full window fits inside the shared run and its minimal HASH VALUE is
# position-independent. This is the sketch-size/recall dial between
# dedup_span_ngrams (ALL gram positions — exact spans, O(tokens) state)
# and dedup_minhash_lsh (fixed-size signature — whole-doc similarity,
# no locality): winnowed fingerprints localize matches at a fraction of
# the gram volume.
WINNOW_K = 4  # gram width, whitespace tokens
WINNOW_W = 4  # winnowing window, in grams; guarantee span = W+K-1 = 7 tokens
WINNOW_MIN_SHARED = 2  # report doc pairs sharing >= 2 selected fingerprints

# Rightmost-min selection key: fixed-width md5 hex (orderable in both
# engines) concatenated with the REVERSED zero-padded position, so the
# plain string MIN over the window frame is exactly (hash asc, pos desc)
# — the paper's tie-break — and the winning position decodes back out.
_WN_POS_PAD = 9


@register(
    "dedup_winnow_fingerprint",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, i, n_grams,
             md5(array_to_string(
                 list_slice(string_split(text, ' '), i + 1, i + {WINNOW_K}), ' '))
               || lpad(CAST({10**_WN_POS_PAD - 1} - i AS VARCHAR), {_WN_POS_PAD}, '0')
               AS e
      FROM (
        SELECT doc_id, text,
               len(string_split(text, ' ')) - {WINNOW_K - 1} AS n_grams,
               unnest(range(0, greatest(len(string_split(text, ' ')) - {WINNOW_K - 1}, 0))) AS i
        FROM documents
      )
    ),
    sel AS (
      SELECT DISTINCT doc_id, substr(m, 1, 32) AS fp
      FROM (
        SELECT doc_id, i, n_grams,
               min(e) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS m
        FROM pos
      )
      WHERE i <= greatest(n_grams - {WINNOW_W}, 0)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
)
def dedup_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint near-dup pairs: doc pairs sharing >=
    WINNOW_MIN_SHARED selected k-gram hashes under W-window rightmost-min
    winnowing (MOSS). Guarantee: any shared run of >= W+K-1 tokens is
    caught — locality dedup_minhash_lsh cannot give — at ~2/(W+1) of
    dedup_span_ngrams' gram volume.

    Scale: the gram pass is a zero-shuffle projection; ONE doc_id-keyed
    shuffle feeds the per-doc window (frame bounded by W, state bounded
    by doc length); the selected set is a ~2/(W+1) fraction of gram
    positions, de-duplicated per doc BEFORE the join; candidate
    generation is an equi-self-join on the fingerprint key — hub
    fingerprints bound per-task work, never all-pairs. Short docs
    (< W grams) keep their global-min gram via the greatest() floor, so
    every document carries >= 1 fingerprint."""
    sel = winnow_selected(spark, sf_dir)
    a = sel.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sel.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowed selection relation (doc_id, fp): the building block
    dedup_winnow_fingerprint joins, exposed so tests can pin the sketch
    density independently of the pair report."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pos = (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            (F.size(toks) - (WINNOW_K - 1)).alias("n_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.explode(
                F.when(
                    F.col("n_grams") >= 1,
                    F.sequence(F.lit(0), F.col("n_grams") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "n_grams",
            "i",
            F.concat(
                F.md5(F.array_join(F.slice(F.col("toks"), F.col("i") + 1, WINNOW_K), " ")),
                F.lpad(
                    (F.lit(10**_WN_POS_PAD - 1) - F.col("i")).cast("string"),
                    _WN_POS_PAD,
                    "0",
                ),
            ).alias("e"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    return (
        pos.withColumn("m", F.min("e").over(w))
        .filter(F.col("i") <= F.greatest(F.col("n_grams") - WINNOW_W, F.lit(0)))
        .select("doc_id", F.substring("m", 1, 32).alias("fp"))
        .distinct()
    )


# ------------------------------------------------------ dedup yield curve ----
#
# The threshold-tuning complement of dedup_lsh_tuning: that query asks
# "which banding finds candidates at a FIXED similarity bar"; this one
# asks "how much of the corpus does each BAR actually flag" — the
# yield curve (pairs and distinct docs flagged per Jaccard threshold)
# a curation team reads to pick the dedup aggressiveness, knowing
# exactly how many documents each setting costs. Exact integer gate
# (1000*inter >= t*(union)) per candidate pair; all thresholds come
# from ONE verify pass via conditional aggregation.
DEDUP_YIELD_THRESHOLDS = (200, 400, 500, 600, 800)  # Jaccard permille


@register(
    "corpus_dedup_rate_curve",
    oracle=(
        "WITH "
        + _MINHASH_CTE
        + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shingles GROUP BY doc_id),
    inters AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(sb.shingle) AS BIGINT) AS inter
      FROM cand c
      LEFT JOIN shingles sa ON sa.doc_id = c.doc_a
      LEFT JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    scored AS (
      SELECT i.doc_a, i.doc_b, i.inter, za.n AS n_a, zb.n AS n_b
      FROM inters i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
    ),
    th AS (SELECT unnest({list(DEDUP_YIELD_THRESHOLDS)}) AS t),
    flagged AS (
      SELECT th.t, s.doc_a, s.doc_b,
             CASE WHEN 1000 * s.inter >= th.t * (s.n_a + s.n_b - s.inter)
                  THEN 1 ELSE 0 END AS flag
      FROM scored s CROSS JOIN th
    ),
    pair_agg AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(flag) AS BIGINT) AS n_pairs_flagged
      FROM flagged GROUP BY t
    ),
    doc_agg AS (
      SELECT t, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_flagged
      FROM (
        SELECT t, doc_a AS d FROM flagged WHERE flag = 1
        UNION ALL
        SELECT t, doc_b FROM flagged WHERE flag = 1
      ) GROUP BY t
    )
    SELECT p.t AS threshold_permille, p.n_candidates, p.n_pairs_flagged,
           COALESCE(d.n_docs_flagged, 0) AS n_docs_flagged
    FROM pair_agg p LEFT JOIN doc_agg d ON d.t = p.t
    """
    ),
)
def corpus_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve: per Jaccard threshold (permille), the LSH
    candidate count, pairs flagged by the exact integer gate, and
    distinct documents implicated — the aggressiveness dial a curation
    run reads before committing a threshold.

    Scale: candidates and the single shingle verify pass are exactly
    dedup_ngram_jaccard's posture (semi-joined sets, no forced
    broadcast); every threshold then costs one conditional row over
    the candidate-pair relation (5-row broadcast threshold table), and
    both rollups collapse onto <= |thresholds| keys."""
    # Shared memoized candidate relation (optimization r11 — was a
    # private eager checkpoint of the identical minhash expression).
    cand, _ = candidate_edges_df(spark, sf_dir)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        shingles_df(spark, sf_dir, distinct=False)
        .join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .select("doc_id", "sh", F.size("sh").cast("long").alias("n"))
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("inter"),
            "n_a",
            "n_b",
        )
    )
    spark_th = F.broadcast(
        spark.createDataFrame([(t,) for t in DEDUP_YIELD_THRESHOLDS], "t int")
    )
    flagged = scored.crossJoin(spark_th).select(
        "t",
        "doc_a",
        "doc_b",
        (
            1000 * F.col("inter") >= F.col("t") * (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .cast("int")
        .alias("flag"),
    )
    flagged = flagged.localCheckpoint(eager=False)  # feeds both rollups
    pair_agg = flagged.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("flag").cast("long").alias("n_pairs_flagged"),
    )
    doc_agg = (
        flagged.filter(F.col("flag") == 1)
        .select("t", F.col("doc_a").alias("d"))
        .unionAll(flagged.filter(F.col("flag") == 1).select("t", F.col("doc_b")))
        .groupBy("t")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_flagged"))
    )
    return (
        pair_agg.join(doc_agg, "t", "left")
        .select(
            F.col("t").cast("int").alias("threshold_permille"),
            "n_candidates",
            "n_pairs_flagged",
            F.coalesce("n_docs_flagged", F.lit(0)).cast("long").alias("n_docs_flagged"),
        )
    )


# ------------------------------------------------------- dedup impact ----
#
# The "what did dedup cost us" report: per source, corpus volume before
# and after keeping only near-dup-component keepers (min doc_id per
# component — dedup_cluster_canonical's rule), with retained permille
# by docs and by chars. The number a curation review reads next to the
# yield curve: the curve says what a threshold FLAGS, this says what
# the shipped clustering actually REMOVES, and which sources bear it.


@register(
    "corpus_dedup_impact",
    oracle=(
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + ","
        + _CC_REACH_CTES
        + """,
    members AS (
      SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN m.cluster_id = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_before,
           CAST(SUM(CASE WHEN m.cluster_id = d.doc_id THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS chars_after,
           CAST((1000 * SUM(CASE WHEN m.cluster_id = d.doc_id THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS docs_retained_permille,
           CAST((1000 * SUM(CASE WHEN m.cluster_id = d.doc_id THEN d.n_chars ELSE 0 END))
                // SUM(d.n_chars) AS BIGINT) AS chars_retained_permille
    FROM members m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.source
    """
    ),
)
def corpus_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact: doc and char volume before/after
    keeping only near-dup-component keepers, with retained permille —
    the removal bill (by source) of the shipped clustering, read next
    to corpus_dedup_rate_curve's what-if yields.

    Scale: composes dedup_cluster_canonical (round cost = candidate
    graph); this adds one doc-keyed join and a |sources|-key rollup.
    A doc is kept iff it IS its component's min label — no second
    keeper relation needed."""
    labels = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    j = docs.join(labels, "doc_id")
    keep = (F.col("cluster_id") == F.col("doc_id")).cast("int")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum(keep).cast("long").alias("docs_after"),
        F.sum("n_chars").cast("long").alias("chars_before"),
        F.sum(keep * F.col("n_chars")).cast("long").alias("chars_after"),
        F.expr(
            "(1000 * sum(CAST(cluster_id = doc_id AS INT))) div count(1)"
        )
        .cast("long")
        .alias("docs_retained_permille"),
        F.expr(
            "(1000 * sum(CAST(cluster_id = doc_id AS INT) * n_chars))"
            " div sum(n_chars)"
        )
        .cast("long")
        .alias("chars_retained_permille"),
    )


# -------------------------------- sorted-neighborhood ER (SNM) ----
#
# The sorted-neighborhood method (Hernandez & Stolfo 1995): instead of
# hash-blocking (dedup_entity_resolution), SORT all registrations by a
# fuzzy key (name suffix + full name) and compare only records within a
# sliding window of SNM_W positions — the classic ER blocking strategy
# for typo families that hash straight to different blocks. The global
# order is materialized WITHOUT a global sort window: band by the
# 2-char sort-key prefix, rank within bands, and add band offsets from
# a prefix sum over the bounded band relation (the two-phase banded
# rank the curriculum/Gini operators use). Window pairs come from an
# equi-join on pos div SNM_W buckets (same + adjacent bucket covers
# every gap <= SNM_W - 1) — no self-cross-join, no window state.
SNM_W = 5

_ER_REGS_SQL = """
      SELECT c_custkey AS reg_id, c_name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000000,
             replace(c_name, 'Customer#', 'Customer #')
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 7 = 2
      UNION ALL
      SELECT c_custkey + 2000000000, 'Client#' || substr(c_name, 10)
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 11 = 4
"""


@register(
    "dedup_entity_snm",
    oracle=f"""
    WITH regs AS ({_ER_REGS_SQL}),
    pos AS (
      SELECT reg_id, c_name,
             ROW_NUMBER() OVER (
               ORDER BY substr(c_name, -4) || '|' || c_name, reg_id) AS p
      FROM regs
    )
    SELECT a.reg_id AS reg_a, b.reg_id AS reg_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev,
           CAST(b.p - a.p AS BIGINT) AS pos_gap
    FROM pos a JOIN pos b
      ON b.p > a.p AND b.p - a.p <= {SNM_W - 1}
    WHERE levenshtein(a.c_name, b.c_name) <= {ER_LEV_MAX}
    """,
)
def dedup_entity_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution: registrations sorted by
    (name suffix, name), candidate pairs = within SNM_W positions,
    link iff levenshtein <= ER_LEV_MAX; pos_gap records where in the
    window the match sat (window-size tuning evidence).

    Scale: NO global sort executes — positions come from the two-phase
    banded rank (per-band row_number + a prefix sum over the bounded
    band relation), the oracle's plain ROW_NUMBER is the cross-
    algorithm check; candidates come from an equi-join on pos div W
    buckets (same + next bucket), so the shuffle is corpus-sized rows
    with O(W) fan-out, never a window holding corpus state."""
    cust = load_table(spark, sf_dir, "customer")
    bucket7 = md5_bucket(F.col("c_custkey").cast("string"), 7)
    bucket11 = md5_bucket(F.col("c_custkey").cast("string"), 11)
    regs = (
        cust.select(F.col("c_custkey").cast("long").alias("reg_id"), "c_name")
        .unionByName(
            cust.filter(bucket7 == 2).select(
                (F.col("c_custkey") + 1000000000).cast("long").alias("reg_id"),
                F.regexp_replace("c_name", "Customer#", "Customer #").alias(
                    "c_name"
                ),
            )
        )
        .unionByName(
            cust.filter(bucket11 == 4).select(
                (F.col("c_custkey") + 2000000000).cast("long").alias("reg_id"),
                F.concat(
                    F.lit("Client#"), F.expr("substring(c_name, 10)")
                ).alias("c_name"),
            )
        )
        .select(
            "reg_id",
            "c_name",
            F.concat(
                F.expr("substring(c_name, -4)"), F.lit("|"), F.col("c_name")
            ).alias("sk"),
        )
    )
    # two-phase banded global rank: band = 2-char sort-key prefix.
    # A checkpoint here (the in-band rank and the band counts both
    # consume this relation) measured SLOWER in both the isolated A/B
    # (1.22 -> 1.28 s best-of-6) and the full battery (0.90 -> 1.07 s
    # min-of-3): the name-carrying relation is wide and materializing
    # it costs more than the cheap re-run of three pushdown-pruned
    # customer scans (the q21/text_vocab_growth lesson). Left as the
    # two-build recompute.
    banded = regs.withColumn("band", F.expr("substring(sk, 1, 2)"))
    w_in = Window.partitionBy("band").orderBy("sk", "reg_id")
    ranked = banded.withColumn("r_in", F.row_number().over(w_in))
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "band", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    pos = (
        ranked.join(F.broadcast(offsets), "band")
        .select(
            "reg_id", "c_name", (F.col("off") + F.col("r_in")).cast("long").alias("p")
        )
        .withColumn("bkt", F.expr(f"(p - 1) div {SNM_W}"))
        .localCheckpoint(eager=False)
    )
    a = pos.select(
        F.col("bkt"),
        F.col("p").alias("pa"),
        F.col("reg_id").alias("reg_a"),
        F.col("c_name").alias("name_a"),
    )
    b = pos.select(
        F.explode(F.array(F.col("bkt"), F.col("bkt") - 1)).alias("bkt"),
        F.col("p").alias("pb"),
        F.col("reg_id").alias("reg_b"),
        F.col("c_name").alias("name_b"),
    )
    return (
        a.join(b.hint("shuffle_hash"), "bkt")
        .filter(
            (F.col("pb") > F.col("pa")) & (F.col("pb") - F.col("pa") <= SNM_W - 1)
        )
        .withColumn("lev", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev") <= ER_LEV_MAX)
        .select(
            "reg_a",
            "reg_b",
            "name_a",
            "name_b",
            "lev",
            (F.col("pb") - F.col("pa")).cast("long").alias("pos_gap"),
        )
    )
