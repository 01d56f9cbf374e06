"""Deterministic sampling / dataset-split operators (BASELINE.md
training-pipeline mandate).

A 100 TB training pipeline cannot use `df.sample()` for train/val/test
splits: the assignment must be (a) reproducible run-to-run, (b) stable
under repartitioning, and (c) recomputable for any single document
without scanning the corpus. The standard answer is hash-mod bucketing
on the stable document key — a pure per-row projection: no shuffle, no
state, survives any partitioning, and the split of one doc is computable
in isolation.

The hash is md5 (not Spark's murmur3 `F.hash`) so the DuckDB oracle
reproduces it bit-for-bit: hex-prefix → int, mod 100, same trick as the
minhash pipeline in `dedup.py`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import (
    STOPWORD_PERMILLE_SPARK,
    STOPWORD_PERMILLE_SQL,
    md5_bucket,
    md5_fp,
)
from snackfs_spark.operators.dedup import (
    SHINGLES_CTE,
    distinct_shingles_df,
    shingles_df,
)
from snackfs_spark.memo import shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import fan_out, load_table

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder

_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS INT)"


def _bucket(doc_id: Column) -> Column:
    """Deterministic 0-99 bucket from the doc key: md5 of the decimal
    string rendering, first 15 hex digits (60 bits, exact in int64), mod
    100. Identical arithmetic to `_BUCKET_SQL` on the DuckDB side."""
    return md5_bucket(doc_id.cast("string"), 100).cast("int")


def _split(bucket: Column) -> Column:
    return (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "split_assign_hash",
    oracle=f"""
    SELECT doc_id,
           {_BUCKET_SQL} AS bucket,
           CASE WHEN {_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
                WHEN {_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_assign_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document train/val/test assignment (80/10/10) by hash-mod
    bucketing. Narrow projection — zero shuffles; the split is a pure
    function of doc_id, so it is stable across runs, partitionings and
    incremental re-ingests (new docs never move old ones between splits,
    unlike percentile- or sample-based splitting)."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    return docs.select("doc_id", b.alias("bucket"), _split(b).alias("split"))


@register(
    "split_summary_tokens",
    oracle=f"""
    SELECT CASE WHEN {_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
                WHEN {_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1
    """,
)
def split_summary_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-level token budget: docs / whitespace tokens / chars per
    split — the sanity report every dataset build emits. 3-group
    aggregate with map-side partial aggregation; the token count is a
    per-row expression, so the whole plan is one scan + one 3-key
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    return (
        docs.select(
            _split(b).alias("split"),
            F.size(F.split("text", " ")).alias("toks"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("ws_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


PACK_SHARDS = 16      # shard count for the REGISTERED query (fixed so the
                      # oracle SQL is reproducible on any machine); the
                      # API default is defaultParallelism — see below
PACK_BUDGET = 2048    # tokens per training chunk


def pack_oracle_sql(shards: int) -> str:
    """DuckDB oracle for pack_sequences at an arbitrary shard count —
    parameterized exactly like the Spark side, so tests can pin
    equivalence at several shard counts (VERDICT r2 #4)."""
    return f"""
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(prev, 0) AS BIGINT) AS tok_offset,
           CAST(COALESCE(prev, 0) // {PACK_BUDGET} AS BIGINT) AS start_chunk,
           CAST(COALESCE(prev, 0) % {PACK_BUDGET} AS BIGINT) AS offset_in_chunk
    FROM (
      SELECT doc_id,
             CAST(doc_id % {shards} AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             SUM(len(string_split(text, ' ')))
               OVER (PARTITION BY doc_id % {shards} ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM documents
    )
    """


def pack_sequences_sharded(
    spark: SparkSession, sf_dir: str, shards: int | None = None
) -> DataFrame:
    """GPT-style sequence packing layout: concatenate documents in a
    deterministic order and cut every PACK_BUDGET tokens — each doc gets
    its token offset, the chunk its first token lands in, and the offset
    within that chunk (docs may straddle chunk boundaries, as in
    standard pretraining packing).

    A single global running sum would serialize on one partition, so
    packing runs per hash shard (doc_id % shards): shards pack
    independently and in parallel — the unit a 1000-executor run scales
    over — and the layout stays deterministic and reproducible for any
    fixed shard count. `shards` defaults to defaultParallelism so the
    parallelism claim and the code agree (VERDICT r2 #4); the registered
    query pins shards=PACK_SHARDS so its oracle is machine-independent."""
    if shards is None:
        shards = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    shard = (F.col("doc_id") % shards).cast("long")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = docs.select(
        "doc_id", shard.alias("shard"), n_tokens.alias("n_tokens")
    ).withColumn("tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return staged.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_offset",
        (F.col("tok_offset") / PACK_BUDGET).cast("long").alias("start_chunk"),
        (F.col("tok_offset") % PACK_BUDGET).alias("offset_in_chunk"),
    )


@register("pack_sequences", oracle=pack_oracle_sql(PACK_SHARDS))
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered binding of pack_sequences_sharded at the fixed
    PACK_SHARDS count (oracle reproducibility across driver machines)."""
    return pack_sequences_sharded(spark, sf_dir, shards=PACK_SHARDS)


# Below the 25 docs/source of the smallest fixture so the quota actually
# binds (a non-binding quota would make the query trivially pass).
STRATUM_QUOTA = 15

# Domain-mixture weights: per-source keep probabilities (percent). The
# DoReMi/Pile-style corpus recipe — up/down-weight domains at ingest.
# Sources not listed keep the default rate.
MIX_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}
MIX_DEFAULT = 60


def _mix_rate_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} = '{s}' THEN {r}" for s, r in MIX_RATES.items()
    )
    return f"CASE {cases} ELSE {MIX_DEFAULT} END"


# Salted bucket for the mixture decision: MUST be independent of the
# split bucket, or sampled-out docs would correlate with the val/test
# split (a classic pipeline bug).
_MIX_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    " % 100 AS INT)"
)


def _mix_bucket(doc_id: Column) -> Column:
    return md5_bucket(F.concat(F.lit("mix|"), doc_id.cast("string")), 100).cast("int")


@register(
    "mixture_sample",
    oracle=f"""
    SELECT doc_id, source, bucket, rate FROM (
      SELECT doc_id, source,
             {_MIX_BUCKET_SQL} AS bucket,
             {_mix_rate_sql('source')} AS rate
      FROM documents
    ) WHERE bucket < rate
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: keep each document with its source's
    configured probability (the corpus-recipe step that up/down-weights
    domains before training). The keep decision is a salted hash-mod
    bucket — deterministic and reproducible, independent of the
    train/val/test bucket (an unsalted reuse would correlate sampling
    with the split), and monotone across rate sweeps: a doc kept at
    rate r stays kept for every rate >= r (nested subsets, the property
    mixture-weight searches need). Pure projection: zero shuffles at
    any scale."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(MIX_DEFAULT)
    for s, r in reversed(list(MIX_RATES.items())):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    b = _mix_bucket(F.col("doc_id"))
    return (
        docs.select("doc_id", "source", b.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
    )


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    ) WHERE rk <= {STRATUM_QUOTA}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: at most STRATUM_QUOTA docs per
    source, chosen by hash rank — the source-balancing step of a corpus
    mixture. Unlike df.sample(), the pick is reproducible, partition-
    independent, and stable under re-ingest (a new doc displaces at most
    one hash-adjacent pick in its own stratum). Per-stratum top-k plans
    WindowGroupLimit: each partition keeps k candidates, so the window
    shuffle moves O(k x strata), not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_QUOTA)
    )


_EVAL_BUCKET = _BUCKET_SQL.replace("doc_id", "s.doc_id")

# ---------------------------------------------------------------------------
# Declarative bloom filter (r4 VERDICT #3). Spark's runtime bloom
# injection (InjectRuntimeFilter) won't fire here — the creation side is
# corpus-proportional and carries no selective predicate — and
# bloom_filter_agg/might_contain are not in the public function
# registry, so the same structure is built from public primitives: hash
# positions -> bit_or-aggregated word bitmap (BOUNDED: nbits/64 longs no
# matter the corpus) -> broadcast -> bit-test pre-filter. Everything is
# JVM expressions; the filtered side only DROPS rows that cannot join,
# so results are bit-identical and oracles are untouched. False-positive
# rate degrades gracefully as the keyset outgrows nbits (the pre-filter
# admits more rows but never lies), which is the same contract as
# Spark's own capped runtime bloom.
# ---------------------------------------------------------------------------

BLOOM_NBITS = 1 << 26  # 64M bits = 8 MB bitmap (1M longs) — broadcastable


def _bloom_positions(col: Column, nbits: int) -> tuple[Column, Column]:
    """Two bit positions per key via independent xxhash64 draws (k=2:
    fp ~= (1 - e^(-2n/m))^2, ~5% at n = m/8 keys)."""
    return (
        F.pmod(F.xxhash64(col), F.lit(nbits)),
        F.pmod(F.xxhash64(col, F.lit(1)), F.lit(nbits)),
    )


def bloom_bitmap(df: DataFrame, colname: str, nbits: int = BLOOM_NBITS) -> DataFrame:
    """(word, bits) bitmap of the column's bloom bits. Duplicate keys
    cost nothing (bit_or is idempotent), so callers skip the distinct.
    Map-side combine collapses every task to <= nbits/64 rows; the
    shuffle moves a bitmap, not data."""
    h1, h2 = _bloom_positions(F.col(colname), nbits)
    pos = df.select(F.explode(F.array(h1, h2)).alias("p"))
    return pos.groupBy(F.expr("p div 64").alias("w")).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(p % 64 AS INT))")).alias("bits")
    )


def bloom_prefilter(
    df: DataFrame, colname: str, bitmap: DataFrame, nbits: int = BLOOM_NBITS
) -> DataFrame:
    """Keep only rows whose column MIGHT be in the bitmap's keyset: two
    broadcast word lookups + bit tests, zero shuffles on `df`. Rows
    whose word is absent (null bits) fail the test, as they must.

    The bitmap feeds BOTH lookup joins, and Spark does not dedupe
    broadcast subtrees — without a cut point the corpus-proportional
    bitmap build would plan and EXECUTE twice (caught by plan audit:
    two independent bit_or aggregates, zero ReusedExchange). The lazy
    localCheckpoint makes the second broadcast read the materialized
    bitmap instead of recomputing it; in a persistent pipeline the
    bitmap is a stored table, same as the shingle relation."""
    bitmap = bitmap.localCheckpoint(eager=False)
    h1, h2 = _bloom_positions(F.col(colname), nbits)
    d = df.withColumn("_p1", h1).withColumn("_p2", h2)
    b1 = bitmap.select(F.col("w").alias("_w1"), F.col("bits").alias("_b1"))
    b2 = bitmap.select(F.col("w").alias("_w2"), F.col("bits").alias("_b2"))
    return (
        d.join(F.broadcast(b1), F.expr("_p1 div 64") == F.col("_w1"), "left")
        .join(F.broadcast(b2), F.expr("_p2 div 64") == F.col("_w2"), "left")
        .filter(
            F.expr("(_b1 & shiftleft(1L, CAST(_p1 % 64 AS INT))) != 0")
            & F.expr("(_b2 & shiftleft(1L, CAST(_p2 % 64 AS INT))) != 0")
        )
        .drop("_p1", "_p2", "_w1", "_b1", "_w2", "_b2")
    )


@register(
    "split_contamination_check",
    oracle=f"""
    WITH {SHINGLES_CTE},
    marked AS (
      SELECT s.doc_id, s.shingle, {_EVAL_BUCKET} AS bucket FROM shingles s
    ),
    train_sh AS (SELECT DISTINCT shingle FROM marked WHERE bucket < {TRAIN_PCT}),
    ev AS (SELECT doc_id, shingle FROM marked WHERE bucket >= {TRAIN_PCT}),
    tot AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
    hit AS (
      SELECT e.doc_id, COUNT(*) AS h
      FROM ev e JOIN train_sh t ON t.shingle = e.shingle
      GROUP BY e.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.h, 0) AS DOUBLE) / t.n AS overlap_ratio,
           CASE WHEN CAST(COALESCE(h.h, 0) AS DOUBLE) / t.n >= 0.5
                THEN 1 ELSE 0 END AS contaminated
    FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
    """,
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: for every val/test document, the
    fraction of its word-3-gram shingles that also appear anywhere in the
    train split — the standard benchmark-leakage check run before any
    evaluation. At 100 TB the train shingle set is corpus-proportional,
    so the membership probe is a shuffled equi-join on the shingle key
    (never a broadcast); the distinct collapses map-side, and eval-side
    volume is only the held-out 20%.

    The shingle relation feeds three consumers (train set, eval totals,
    eval hits), so it is materialized once — locally a checkpoint; in a
    real pipeline the shingle/signature table is persisted storage that
    dedup, decontamination and clustering all read (computed once per
    corpus, not once per query). `eager=False` so building the DataFrame
    (schema enumeration, plan tests) runs zero jobs — materialization
    happens on the first action. Caveat noted for the cluster story:
    localCheckpoint is non-reliable (executor loss discards it); a real
    deployment writes the shingle table to storage instead (the
    persisted-table pattern above), so the local shortcut is
    bench-plumbing, not the 100 TB design."""
    # shared memoized shingle table (optimization r11 — was a private
    # checkpoint of the identical expression)
    sh = distinct_shingles_df(spark, sf_dir)
    b = _bucket(F.col("doc_id"))
    ev = sh.filter(b >= TRAIN_PCT)
    # Bloom pre-filter (r4 VERDICT #3): the train shingle set is
    # corpus-proportional, but the membership probe only needs train
    # shingles that ALSO occur on the eval side — and a bloom bitmap of
    # the eval shingles is BOUNDED (nbits/64 longs) no matter the corpus
    # size, so it broadcasts where the shingle set never could. Bit-test
    # train rows against it before the distinct: the non-candidate bulk
    # (the non-leak fraction) never enters the distinct or the join
    # shuffle. False positives only re-admit rows the exact semi-join
    # below was already correct about; false negatives are impossible.
    ev_bloom = bloom_bitmap(ev, "shingle")
    train_sh = (
        bloom_prefilter(sh.filter(b < TRAIN_PCT), "shingle", ev_bloom)
        .select("shingle")
        .distinct()
    )
    tot = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        ev.join(train_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ratio = F.coalesce("n_overlap", F.lit(0)).cast("double") / F.col("n_shingles")
    return (
        tot.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            ratio.alias("overlap_ratio"),
            F.when(ratio >= 0.5, 1).otherwise(0).alias("contaminated"),
        )
    )


@register(
    "corpus_build_train",
    oracle=f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    quality AS (
      SELECT doc_id FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text, ' ')) >= 20
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents d
    JOIN keepers k ON k.doc_id = d.doc_id
    JOIN quality q ON q.doc_id = d.doc_id
    WHERE {_BUCKET_SQL.replace('doc_id', 'd.doc_id')} < {TRAIN_PCT}
    """,
)
def corpus_build_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone dataset-build query: the training corpus is the
    intersection of (a) exact-dedup keepers, (b) the quality filter, and
    (c) the train split — the pipeline every pretraining dataset runs.
    Keepers come from one hash-groupBy; quality and split are per-row
    predicates; the final joins are key-only semi-joins, so the full
    document text is scanned exactly once."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    quality = docs.filter(
        F.col("n_chars").between(100, 500)
        & (F.size(F.split("text", " ")) >= 20)
    ).select("doc_id")
    train = docs.filter(_bucket(F.col("doc_id")) < TRAIN_PCT)
    return (
        train.join(keepers, "doc_id", "left_semi")
        .join(quality, "doc_id", "left_semi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("ws_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window chunking: slice every document into overlapping
# fixed-size token windows — the step that turns a cleaned corpus into
# training sequences when documents are NOT concatenated (the
# alternative to pack_sequences' concat-then-chunk layout).

CHUNK_TOKENS = 64   # window size (tokens)
CHUNK_STRIDE = 48   # window stride; overlap = CHUNK_TOKENS - CHUNK_STRIDE


@register(
    "text_chunk_sliding",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), {CHUNK_STRIDE})) AS chunk_start
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(least({CHUNK_TOKENS}, len(toks) - chunk_start) AS BIGINT)
             AS chunk_len,
           array_to_string(toks[chunk_start + 1:chunk_start + {CHUNK_TOKENS}], ' ')
             AS chunk_text
    FROM s
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (overlapping context windows):
    each doc yields windows of CHUNK_TOKENS tokens every CHUNK_STRIDE,
    the tail window keeping whatever remains.

    Scale shape: a pure per-row generator — tokenize in the projection,
    `sequence()` the window starts, explode, `slice` each window out of
    the token array. No shuffle at any scale; output rows ~= n_tokens /
    stride per doc, produced at scan speed. The overlap policy
    (window - stride tokens shared between neighbors) is the standard
    causal-LM eval chunking; pack_sequences is the training-side
    alternative that concatenates docs instead."""
    docs = load_table(spark, sf_dir, "documents")
    start = F.col("chunk_start")
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            start.cast("long").alias("chunk_start"),
            F.least(F.lit(CHUNK_TOKENS), F.size("toks") - start)
            .cast("long")
            .alias("chunk_len"),
            F.array_join(
                F.slice("toks", start + 1, F.lit(CHUNK_TOKENS)), " "
            ).alias("chunk_text"),
        )
    )


FLUENCY_MIN = 32_000_000_000  # min avg bigram lattice prob (~0.032 * 1e12)


def _corpus_v2_ctes() -> str:
    """The corpus-v2 gate signals as a reusable DuckDB CTE block —
    shared by the capstone count and the funnel report so the two
    oracles can never drift apart."""
    from snackfs_spark.operators.clustering import (
        N_LABELS,
        SEMDEDUP_TAU,
        TARGET_CLUSTER,
        _DOT_DUCK,
    )

    cos = (
        f"{_DOT_DUCK.format(a='a.ev', b='b.ev')}"
        f" / (sqrt({_DOT_DUCK.format(a='a.ev', b='a.ev')})"
        f" * sqrt({_DOT_DUCK.format(a='b.ev', b='b.ev')}))"
    )
    return f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    quality AS (
      SELECT doc_id FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text, ' ')) >= 20
    ),
    n AS (SELECT COUNT(*) AS n FROM embeddings),
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
    sem_dropped AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.label = b.label
        AND COALESCE(a.bucket, 0) = COALESCE(b.bucket, 0)
        AND b.vec_id > a.vec_id
      WHERE {cos} > {SEMDEDUP_TAU}
    ),
    toks AS (
      SELECT doc_id, i AS pos, words[i + 1] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(range(0, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    ),
    bigrams AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2),
    uc AS (SELECT w AS w1, COUNT(*) AS c1 FROM toks GROUP BY w),
    fluent AS (
      SELECT g.doc_id
      FROM bigrams g
      JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      JOIN uc ON uc.w1 = g.w1
      GROUP BY g.doc_id
      HAVING SUM(CAST(round_even((CAST(bc.c2 AS DOUBLE) / uc.c1) * 1e12, 0)
                      AS BIGINT)) // COUNT(*) >= {FLUENCY_MIN}
    )
"""


def _corpus_v2_oracle() -> str:
    return _corpus_v2_ctes() + f"""    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents d
    JOIN keepers k ON k.doc_id = d.doc_id
    JOIN quality q ON q.doc_id = d.doc_id
    JOIN fluent f ON f.doc_id = d.doc_id
    LEFT JOIN sem_dropped s ON s.vec_id = d.doc_id
    WHERE s.vec_id IS NULL
      AND {_BUCKET_SQL.replace('doc_id', 'd.doc_id')} < {TRAIN_PCT}
    """


def _corpus_v2_gates(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The v2 gate signals as key-only DataFrames (keepers, quality,
    fluent, sem_dropped-as-doc_id) — the single Spark-side source of
    truth, shared by corpus_build_v2 and corpus_funnel_report exactly
    as _corpus_v2_ctes is shared on the oracle side, so the capstone
    and the funnel cannot drift apart on either engine."""
    from snackfs_spark.operators.clustering import semantic_scaled_dropped
    from snackfs_spark.operators.textstats import text_bigram_prob

    keepers = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = F.split(F.col("text"), " ")
    quality = docs.filter(
        F.col("n_chars").between(100, 500) & (F.size(toks) >= 20)
    ).select("doc_id")
    fluent = (
        text_bigram_prob(spark, sf_dir)
        .filter(F.expr("prob_lattice_sum div n_bigrams") >= F.lit(FLUENCY_MIN))
        .select("doc_id")
    )
    _, sem_dropped = semantic_scaled_dropped(spark, sf_dir)
    # The drop set scales with corpus duplicate density, so it is
    # corpus-proportional in the worst case — never broadcast it
    # (same OOM hazard the 100x sweep measured on the prefix-filter
    # b-side); the anti-join shares the semi-join chain's doc_id
    # partitioning, so the pin only shuffles the small drop set.
    sem_dropped = sem_dropped.withColumnRenamed("vec_id", "doc_id").hint(
        "shuffle_hash"
    )
    return keepers, quality, fluent, sem_dropped


@register("corpus_build_v2", oracle=_corpus_v2_oracle())
def corpus_build_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 corpus-build capstone: the v1 recipe (exact dedup ∩
    quality gate ∩ train split) extended with the round's new signals —
    size-adaptive SEMANTIC dedup (embedding-space near-dups dropped;
    docs without an embedding row keep, semantics = no signal, no drop)
    and bigram-LM FLUENCY (per-doc avg conditional probability on the
    1e-12 lattice must clear a fixed floor). Every leg is key-only until
    the final count: keeper/quality/fluent relations carry doc_ids, the
    semantic drop set carries vec_ids, and text is scanned in two passes
    total (quality projection + bigram scoring) regardless of how many
    filters stack. The same composition at 100 TB materializes each
    signal as a column once and AND-s them — which is exactly this
    plan's shape."""
    docs = load_table(spark, sf_dir, "documents")
    keepers, quality, fluent, sem_dropped = _corpus_v2_gates(spark, sf_dir, docs)
    toks = F.split(F.col("text"), " ")
    kept = (
        docs.join(keepers, "doc_id", "left_semi")
        .join(quality, "doc_id", "left_semi")
        .join(fluent, "doc_id", "left_semi")
        .join(sem_dropped, "doc_id", "left_anti")
        .filter(_bucket(F.col("doc_id")) < TRAIN_PCT)
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("ws_tokens"),
    )


# Curriculum selection: fraction of the corpus token total the selected
# prefix may use (2/5 in exact integer arithmetic, so both engines
# derive the identical budget).
CURR_BUDGET_NUM, CURR_BUDGET_DEN = 2, 5


@register(
    "curriculum_token_budget",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                t -> t <> ''))) AS BIGINT)
               AS score,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) * {CURR_BUDGET_NUM} / {CURR_BUDGET_DEN}
                  AS BIGINT) AS budget
      FROM d
    ),
    c AS (
      SELECT doc_id, score, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM c, tot WHERE cum_tokens <= budget
    """,
)
def curriculum_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection: take the best documents
    (score = distinct-token count, ties by doc_id) until the running
    token total reaches a fixed fraction of the corpus — the "train on
    the top-X%-by-quality tokens" curriculum step.

    The semantics are a GLOBAL ordered prefix sum, but a global
    orderBy+window would funnel 100 TB through one task. This runs the
    classic two-phase decomposition instead:

      1. per-SCORE token totals (one small agg — score cardinality is
         bounded by max doc length, thousands at most), running offsets
         over that tiny relation, and the scalar budget;
      2. scores whose offset already exceeds the budget are dropped
         BEFORE any per-document work (the curriculum analog of
         partition pruning — at a 40% budget, most of the corpus never
         reaches the window);
      3. the per-document running sum is windowed WITHIN each surviving
         score group (parallel across groups), shifted by the group
         offset.

    Equal to the single-window oracle because (score DESC, doc_id) is a
    total order and cum(doc) = offset(score) + within-group cum."""
    docs = load_table(spark, sf_dir, "documents")
    # 3 longs per doc, checkpointed: the budget scalar, the per-score
    # totals AND the final join all read it — unchckpointed each re-ran
    # the tokenize + array_distinct scan (r11 opt: 3 scans -> 1)
    d = docs.select(
        "doc_id",
        F.size(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda t: t != "")
            )
        )
        .cast("long")
        .alias("score"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    budget = d.agg(
        (
            F.sum("n_tokens") * CURR_BUDGET_NUM / F.lit(CURR_BUDGET_DEN)
        )
        .cast("long")
        .alias("budget")
    )
    grp = d.groupBy("score").agg(F.sum("n_tokens").alias("grp_tokens"))
    # Running offset over the per-score relation: single-partition window
    # by construction, but over ~thousands of rows, not the corpus.
    w_scores = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = grp.select(
        "score",
        F.coalesce(F.sum("grp_tokens").over(w_scores), F.lit(0)).alias(
            "offset"
        ),
    ).crossJoin(F.broadcast(budget))
    survivors = offsets.filter(F.col("offset") < F.col("budget"))
    w_doc = (
        Window.partitionBy("score")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(survivors), "score")
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w_doc)
        )
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "score", "n_tokens", "cum_tokens")
    )


DSIR_NF = 512        # hashed-feature buckets
DSIR_TARGET_LANG = "en"  # the "target domain" the weights steer toward
DSIR_TOP = 100       # selected docs (deterministic top-k stand-in for
                     # DSIR's Gumbel resampling)
_DSIR_FEAT_SQL = (
    "CAST(('0x' || substr(md5(w1 || ' ' || w2), 1, 15))::BIGINT"
    f" % {DSIR_NF} AS INT)"
)


def _dsir_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, i AS pos, words[i + 1] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(range(0, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    ),
    feats AS (
      SELECT a.doc_id, {_DSIR_FEAT_SQL} AS f
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1,
      LATERAL (SELECT a.w AS w1, b.w AS w2) s
    ),
    tgt AS (SELECT doc_id FROM documents WHERE lang = '{DSIR_TARGET_LANG}'),
    cr AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS cr FROM feats GROUP BY f),
    ct AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS ct
      FROM feats JOIN tgt USING (doc_id) GROUP BY f
    ),
    tot AS (
      SELECT (SELECT SUM(cr) FROM cr) AS tr, (SELECT COALESCE(SUM(ct), 0) FROM ct) AS tt
    ),
    ratio AS (
      SELECT cr.f,
             CAST(round_even(
               ((CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) / (tot.tt + {DSIR_NF}))
                / (CAST(cr.cr + 1 AS DOUBLE) / (tot.tr + {DSIR_NF}))) * 1e9,
               0) AS BIGINT) AS q
      FROM cr LEFT JOIN ct ON ct.f = cr.f CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(r.q) AS BIGINT) AS imp_lattice_sum,
           CAST(SUM(r.q) // COUNT(*) AS BIGINT) AS imp_avg_lattice
    FROM feats x JOIN ratio r ON r.f = x.f JOIN documents d ON d.doc_id = x.doc_id
    GROUP BY d.doc_id, d.lang
    QUALIFY ROW_NUMBER() OVER (ORDER BY SUM(r.q) // COUNT(*) DESC, d.doc_id)
            <= {DSIR_TOP}
    """


@register("importance_sample_dsir", oracle=_dsir_oracle())
def importance_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023 pattern): documents
    are scored by how much their hashed-n-gram feature distribution
    looks like a TARGET domain (here: the lang='en' slice) relative to the
    raw corpus, and the top-scoring docs are selected for training.

    Statistic: per feature bucket f (bigram md5-hashed into
    {DSIR_NF} buckets), the Laplace-smoothed probability ratio
    p_target(f) / p_raw(f); a doc's importance aggregates the ratios of
    its feature occurrences. Two deliberate, documented substitutions
    versus the paper keep the chain engine-portable and hash-checkable:
    the per-feature LOG of the ratio becomes the ratio itself quantized
    onto a 1e-9 integer lattice (libm log is not bit-portable across
    engines; the sum of quantized ratios is a monotone affinity score
    with the same selection behavior on this statistic), and Gumbel-
    noise resampling becomes deterministic top-k by (length-normalized
    score, doc_id).

    Scale shape: feature extraction is one linear corpus scan (the
    zero-shuffle zip-with bigram projection); the feature-count
    relations collapse map-side onto <= {DSIR_NF} keys and BROADCAST
    back into the scoring join, so the only corpus-sized shuffle is the
    per-doc aggregate. Selection is orderBy+limit =
    TakeOrderedAndProject (per-partition partial top-k, no global
    window); a full-corpus selection at 100 TB replaces it with an
    approx_percentile threshold on the same score column."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    feats = pairs.select(
        "doc_id",
        md5_bucket(F.col("bg"), DSIR_NF).cast("int").alias("f"),
    )
    tgt = docs.filter(F.col("lang") == DSIR_TARGET_LANG).select("doc_id")
    cr = feats.groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    ct = feats.join(tgt, "doc_id").groupBy("f").agg(F.count(F.lit(1)).alias("ct"))
    tot = cr.agg(F.sum("cr").alias("tr")).crossJoin(
        ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    )
    ratio = (
        cr.join(ct, "f", "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.bround(
                (
                    (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                    / (F.col("tt") + DSIR_NF)
                    / ((F.col("cr") + 1).cast("double") / (F.col("tr") + DSIR_NF))
                )
                * F.lit(1.0e9)
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    scored = (
        feats.join(F.broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("q").alias("imp_lattice_sum"),
        )
        .withColumn(
            "imp_avg_lattice",
            F.expr("imp_lattice_sum div n_features"),
        )
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", "lang", "n_features", "imp_lattice_sum", "imp_avg_lattice"
        )
        .orderBy(F.col("imp_avg_lattice").desc(), "doc_id")
        .limit(DSIR_TOP)
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: assign each document to the smallest
# power-of-two context length that holds it, then measure how much of
# each bucket's padded token budget is real text. The batching-side
# complement of pack_sequences: packing concatenates docs to kill
# padding; bucketing keeps docs intact and pays measured padding.

BUCKET_CAPS = [32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]
BUCKET_OVERFLOW = 16384  # docs longer than the largest cap land here


def _bucket_case_sql() -> str:
    whens = " ".join(
        f"WHEN n_tokens <= {c} THEN {c}" for c in BUCKET_CAPS
    )
    return f"CASE {whens} ELSE {BUCKET_OVERFLOW} END"


@register(
    "pack_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (SELECT n_tokens, CAST({_bucket_case_sql()} AS BIGINT) AS bucket_cap FROM t)
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(n_tokens, bucket_cap)) AS BIGINT)
             AS padded_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / SUM(GREATEST(n_tokens, bucket_cap))
             AS pad_efficiency
    FROM b GROUP BY bucket_cap
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length bucketing for padded batching: every document
    goes to the smallest bucket cap >= its whitespace token count, and
    each bucket reports its padding efficiency (real tokens / padded
    tokens). This is the report a batching strategy is tuned against —
    low efficiency in a bucket means either re-bucket (finer caps) or
    switch those lengths to pack_sequences' concat layout.

    Scale shape: one scan; the bucket cap is a pure projection (a
    constant-folded CASE chain, no log/pow floats to disagree over) and
    the roll-up is a map-side-combined groupBy on ~10 bucket keys. The
    tiny key count is the POINT at scale: partial aggregation collapses
    every task to <= 10 rows, so the final shuffle is bytes, not data.
    All sums are bigint-lattice; the one double division happens once
    per output row."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    cap = F.lit(BUCKET_OVERFLOW)
    for c in reversed(BUCKET_CAPS):
        cap = F.when(n_tokens <= c, F.lit(c)).otherwise(cap)
    b = docs.select(n_tokens.alias("n_tokens"), cap.cast("long").alias("bucket_cap"))
    # Overflow-bucket docs can EXCEED the cap, so each doc pads to
    # max(n_tokens, cap) — for every finite bucket that is just the cap
    # (n_tokens <= cap by construction), and for the overflow bucket it
    # keeps pad_efficiency <= 1.0 instead of overstating the padding
    # budget (r4 ADVICE).
    padded = F.sum(F.greatest(F.col("n_tokens"), F.col("bucket_cap")))
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        padded.alias("padded_tokens"),
        (F.sum("n_tokens").cast("double") / padded).alias("pad_efficiency"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights: per-source sampling weights
# proportional to size^alpha with alpha = 0.5 — the multilingual/
# multi-domain "temperature sampling" recipe (upweight small sources,
# damp huge ones). alpha = 0.5 is computed as an INTEGER sqrt so both
# engines agree bit-for-bit: floor(sqrt(chars)) can be off by one for
# chars ≳ 2^52 (sqrt is correctly rounded but its floor is not the
# integer sqrt at that magnitude — counterexamples start around
# 4.5e15 chars, i.e. multi-PB per-source totals), so a ±1 clamp makes
# isqrt exact for EVERY bigint; the denominator is a bigint sum of
# isqrts, and the final weight/allocation divisions are single exact
# double/integer ops.

MIX_TEMP_BUDGET = 10_000_000  # total char budget the weights allocate


@register(
    "mixture_temperature",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    i0 AS (
      SELECT *, CAST(FLOOR(SQRT(CAST(chars AS DOUBLE))) AS BIGINT) AS r FROM s
    ),
    i AS (
      SELECT source, n_docs, chars,
             CASE WHEN r * r > chars THEN r - 1
                  WHEN (r + 1) * (r + 1) <= chars THEN r + 1
                  ELSE r END AS isqrt_chars
      FROM i0
    ),
    t AS (SELECT CAST(SUM(isqrt_chars) AS BIGINT) AS tot FROM i)
    SELECT source, n_docs, chars, isqrt_chars,
           CAST(isqrt_chars AS DOUBLE) / tot AS weight,
           {MIX_TEMP_BUDGET} * isqrt_chars // tot AS alloc_chars
    FROM i, t
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture: weight_s ∝ size_s^0.5, then an
    integer allocation of a fixed char budget. Flattens the source
    distribution the way multilingual corpus recipes do (small sources
    oversampled relative to raw proportion, dominant sources damped)
    without the per-document randomness of mixture_sample — the two
    compose: this picks the per-source rates, that applies them.

    Scale shape: one map-side-combined groupBy to per-source totals
    (rows = #sources, a constant), then a 1-row global sum joined back —
    Spark broadcasts the singleton automatically. Zero corpus-sized
    shuffles; the corpus is touched exactly once. Determinism: all
    accumulation is bigint; the ±1-clamped integer sqrt is exact for
    every bigint (see the constant block above), and the final
    divisions are single IEEE ops on exact inputs, so Spark and DuckDB
    agree bit-for-bit regardless of partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    r = F.floor(F.sqrt(F.col("chars").cast("double"))).cast("long")
    i = s.withColumn("r", r).withColumn(
        "isqrt_chars",
        F.when(F.col("r") * F.col("r") > F.col("chars"), F.col("r") - 1)
        .when((F.col("r") + 1) * (F.col("r") + 1) <= F.col("chars"), F.col("r") + 1)
        .otherwise(F.col("r")),
    ).drop("r")
    tot = i.agg(F.sum("isqrt_chars").alias("tot"))
    return i.crossJoin(tot).select(
        "source",
        "n_docs",
        "chars",
        "isqrt_chars",
        (F.col("isqrt_chars").cast("double") / F.col("tot")).alias("weight"),
        F.expr(f"{MIX_TEMP_BUDGET} * isqrt_chars div tot").alias("alloc_chars"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style mixture reweighting (Xie et al. 2023, arXiv:2305.10429,
# simplified): iterative multiplicative-weights updates that shift the
# training mixture toward sources with EXCESS loss over the current
# weighted average — the optimization-driven alternative to the static
# temperature recipe above (the two bracket the mixture design space:
# size-driven vs loss-driven). The published algorithm multiplies by
# exp(eta * excess) with a trained proxy model's per-domain loss; the
# engine version stays on the exact integer lattice: the loss proxy is
# the shared stopword-permille disfluency (1000 - mean fluency — the
# same signal text_quality_score ships), and the update multiplies by
# (1000 + excess_permille) ~ a linearized exp at eta = 1e-3, followed
# by ppm renormalization and a 10% uniform smoothing (DoReMi's
# zero-weight guard). DOREMI_ROUNDS rounds are unrolled identically in
# both engines, so every intermediate is a bigint and the output is
# bit-identical at any partition count.
DOREMI_ROUNDS = 3
DOREMI_BUDGET = 10_000_000  # char budget the final weights allocate


def _doremi_oracle() -> str:
    """The round-unrolled DuckDB oracle, generated from DOREMI_ROUNDS so
    engine and oracle can never disagree on the round count."""
    sql = f"""
    WITH q AS (
      SELECT source, CAST({STOPWORD_PERMILLE_SQL} AS BIGINT) AS q
      FROM documents
    ),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(1000 - SUM(q) // COUNT(*) AS BIGINT) AS loss
      FROM q GROUP BY source
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM s),
    w0 AS (
      SELECT s.source, s.n_docs, s.loss,
             CAST(1000000 // n.c AS BIGINT) AS w,
             CAST(1000000 // n.c AS BIGINT) AS u
      FROM s, n
    )"""
    prev = "w0"
    for t in range(1, DOREMI_ROUNDS + 1):
        sql += f""",
    m{t} AS (SELECT SUM(w * loss) // SUM(w) AS wm FROM {prev}),
    u{t} AS (
      SELECT p.source, p.n_docs, p.loss, p.u,
             p.w * (1000 + GREATEST(0, p.loss - m{t}.wm)) AS raw
      FROM {prev} p, m{t}
    ),
    t{t} AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM u{t}),
    w{t} AS (
      SELECT source, n_docs, loss, u,
             CAST((9 * ((1000000 * raw) // t{t}.tot) + u) // 10 AS BIGINT) AS w
      FROM u{t}, t{t}
    )"""
        prev = f"w{t}"
    sql += f"""
    SELECT source, n_docs, loss AS loss_permille,
           w AS w_ppm,
           CAST({DOREMI_BUDGET} * w // (SELECT SUM(w) FROM {prev})
                AS BIGINT) AS alloc_chars
    FROM {prev}
    """
    return sql


@register("mixture_doremi_reweight", oracle=_doremi_oracle())
def mixture_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-driven training mixture: DOREMI_ROUNDS multiplicative-weight
    rounds over per-source excess loss (see the constant block above
    for the lattice-exact linearization of DoReMi's exp update). Emits
    the per-source disfluency loss, the final mixture weight in ppm,
    and an integer char-budget allocation — the knob a data pipeline
    feeds back into mixture_sample's per-source rates.

    Scale shape: ONE corpus scan collapses map-side to per-source
    (n_docs, loss) — |sources| rows, lazily checkpointed so the
    unrolled rounds re-read a tiny ExistingRDD, never the corpus. Each
    round is two singleton aggregates cross-joined back (broadcast by
    size), so the whole optimization is bounded algebra exactly like
    mixture_temperature; rounds are unrolled in BOTH engines from the
    same DOREMI_ROUNDS constant."""
    from snackfs_spark.operators.textstats import doc_quality_df

    s = (
        doc_quality_df(spark, sf_dir)
        .select("source", "q")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(1000 - (SUM(q) div COUNT(*)) AS BIGINT)").alias("loss"),
        )
        .localCheckpoint(eager=False)
    )
    n = s.agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = s.crossJoin(F.broadcast(n)).select(
        "source",
        "n_docs",
        "loss",
        F.expr("CAST(1000000 div c AS BIGINT)").alias("w"),
        F.expr("CAST(1000000 div c AS BIGINT)").alias("u"),
    )
    for _ in range(DOREMI_ROUNDS):
        wm = w.agg(F.expr("SUM(w * loss) div SUM(w)").alias("wm"))
        upd = w.crossJoin(F.broadcast(wm)).select(
            "source",
            "n_docs",
            "loss",
            "u",
            F.expr("w * (1000 + GREATEST(0, loss - wm))").alias("raw"),
        )
        tot = upd.agg(F.sum("raw").cast("long").alias("tot"))
        # lazily checkpoint each round's |sources|-row weight relation:
        # the NEXT round references it three times (rows, weighted-mean
        # agg, total agg), so an unckeckpointed chain duplicates the
        # upstream subtree exponentially in DOREMI_ROUNDS (measured: a
        # 2000-line physical plan at 3 rounds; linear after)
        w = (
            upd.crossJoin(F.broadcast(tot))
            .select(
                "source",
                "n_docs",
                "loss",
                "u",
                F.expr(
                    "CAST((9 * ((1000000 * raw) div tot) + u) div 10 AS BIGINT)"
                ).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    fin = w.agg(F.sum("w").cast("long").alias("wsum"))
    return w.crossJoin(F.broadcast(fin)).select(
        "source",
        "n_docs",
        F.col("loss").alias("loss_permille"),
        F.col("w").alias("w_ppm"),
        F.expr(f"CAST({DOREMI_BUDGET} * w div wsum AS BIGINT)").alias(
            "alloc_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch scheduling (Muennighoff et al. 2023,
# arXiv:2305.16264: repeated tokens are worth less each epoch): given a
# per-source char target, how many passes over each source's available
# data are needed, and what is the EFFECTIVE (decay-discounted) value
# of the repeated chars? The published decay is fit empirically; the
# engine uses the dyadic half-life (epoch k is worth 2^-(k-1)) so the
# whole readout is exact integers: full epochs F = target div avail,
# remainder r = target mod avail, and the effective value
# sum_{k=1..F} avail/2^(k-1) + r/2^F has the closed form
# (avail*(2^(F+1) - 2) + r) / 2^F — one wide-integer numerator over a
# power-of-two denominator. The numerator is computed in DECIMAL(38,0)
# (Spark) / HUGEINT (DuckDB): with F capped at EPOCH_CAP=40 it is at
# most avail * 2^41 < 2^63 * 2^41 = 2^104 ≈ 2e31 ≪ 1e38, so the wide
# lattice is exact for EVERY bigint avail — no overflow branch exists
# (r10 ADVICE: the old bigint numerator overflowed past avail ≈ 4.19M
# chars in the capped branch). eff_num is therefore exported as a
# STRING (both engines render wide integers identically; pandas would
# lossily coerce int128/decimal to float64). effective_chars ≤ 2*avail
# and value_retained_ppm ≤ 1e6 provably fit BIGINT, so the readouts
# cast back down — loudly, on both sides, in the impossible case they
# don't. F is capped at EPOCH_CAP because a 40-epoch repeat has ~0
# marginal value (2^-39 of the first pass); the cap is part of the
# published contract, not an overflow dodge. Degenerate sources
# (avail = 0, or target = 0 when empty sources dominate the mean) RAISE
# in both engines — Spark via ANSI div-by-zero, the oracle via an
# explicit error() guard (r10 ADVICE: DuckDB's bare `//` returns NULL
# silently). The target
# is uniform per source — EPOCH_TARGET_MULT x the mean source size, so
# the planner exercises real epoch counts and remainders at EVERY
# scale factor (a fixed absolute budget degenerates to the cap at
# small fixtures and to zero epochs at huge ones): the scheduling math
# is the operator; pair it with mixture_doremi_reweight /
# mixture_temperature / corpus_budget_apportionment for the targets.
EPOCH_TARGET_MULT = 5  # target = 5x the mean per-source chars
EPOCH_CAP = 40


@register(
    "corpus_epoch_schedule",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(avail) AS BIGINT) AS total
      FROM s
    ),
    t AS (
      SELECT s.source, s.avail,
             CAST(({EPOCH_TARGET_MULT} * n.total) // n.c AS BIGINT) AS target
      FROM s, n
    ),
    e AS (
      SELECT source, avail, target,
             CAST(LEAST(CASE WHEN avail = 0 OR target = 0
                             THEN CAST(error('corpus_epoch_schedule: degenerate source (avail=0 or target=0)') AS BIGINT)
                             ELSE target // avail END,
                        {EPOCH_CAP}) AS BIGINT) AS full_epochs,
             CAST(CASE WHEN avail = 0 THEN NULL
                       WHEN target // avail > {EPOCH_CAP} THEN 0
                       ELSE target % avail END AS BIGINT) AS rem
      FROM t
    ),
    w AS (
      SELECT source, avail, target, full_epochs, rem,
             CAST(avail AS HUGEINT)
               * ((CAST(1 AS HUGEINT) << (full_epochs + 1)) - 2) + rem AS num_h,
             (CAST(1 AS HUGEINT) << full_epochs) AS den_h
      FROM e
    )
    SELECT source, avail AS avail_chars, target AS target_chars,
           full_epochs, rem AS remainder_chars,
           CAST(num_h AS VARCHAR) AS eff_num,
           CAST(den_h AS BIGINT) AS eff_den,
           CAST(num_h // den_h AS BIGINT) AS effective_chars,
           CAST((1000000 * (num_h // den_h)) // target AS BIGINT)
             AS value_retained_ppm
    FROM w
    """,
)
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-epoch planner for data-constrained training: per source,
    the uniform char target vs available chars, full epochs + partial
    remainder, and the dyadic-decay effective char value (closed form
    above) with the value-retained ppm — the readout that says WHICH
    sources are being repeated into diminishing returns, so the
    mixture can shift budget toward unexhausted ones.

    Scale shape: ONE corpus scan collapses map-side to per-source char
    totals (|sources| rows); everything after is closed-form integer
    shift algebra on that bounded relation — the mixture_temperature
    posture. Exactness: the decay is a power of two and the numerator
    lives in DECIMAL(38,0)/HUGEINT (exact for every bigint avail at
    the F<=40 cap — at most 2^104 ≪ 10^38), so eff_num (exported as a
    string: pandas would coerce int128 to float64) and the BIGINT
    readouts are bit-identical in both engines; degenerate avail=0 /
    target=0 sources raise loudly on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("avail"))
    n = s.agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("avail").cast("long").alias("total"),
    )
    t = s.crossJoin(F.broadcast(n)).select(
        "source",
        "avail",
        F.expr(f"CAST(({EPOCH_TARGET_MULT} * total) div c AS BIGINT)").alias(
            "target"
        ),
    )
    e = t.select(
        "source",
        "avail",
        "target",
        F.expr(f"CAST(LEAST(target div avail, {EPOCH_CAP}) AS BIGINT)").alias(
            "full_epochs"
        ),
        F.expr(
            f"CAST(CASE WHEN target div avail > {EPOCH_CAP} THEN 0"
            " ELSE target % avail END AS BIGINT)"
        ).alias("rem"),
    )
    # The 2^F power always fits BIGINT (F <= 40); the numerator is
    # widened to DECIMAL(38,0) BEFORE the multiply so avail * 2^41 is
    # exact for every bigint avail (<= 2^104, see the constant block).
    # `div` on decimals returns BIGINT with an ANSI overflow check —
    # effective_chars <= 2*avail, so the downcast is provably safe.
    eff_num = (
        "CAST(avail AS DECIMAL(38,0))"
        " * (shiftleft(CAST(1 AS BIGINT), CAST(full_epochs + 1 AS INT)) - 2)"
        " + rem"
    )
    eff_den = "shiftleft(CAST(1 AS BIGINT), CAST(full_epochs AS INT))"
    return e.select(
        "source",
        F.col("avail").alias("avail_chars"),
        F.col("target").alias("target_chars"),
        "full_epochs",
        F.col("rem").alias("remainder_chars"),
        F.expr(f"CAST({eff_num} AS STRING)").alias("eff_num"),
        F.expr(f"CAST({eff_den} AS BIGINT)").alias("eff_den"),
        F.expr(f"CAST(({eff_num}) div ({eff_den}) AS BIGINT)").alias(
            "effective_chars"
        ),
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * (({eff_num}) div"
            f" ({eff_den}))) div target AS BIGINT)"
        ).alias("value_retained_ppm"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle: the final step before export —
# a reproducible pseudo-random global order over the corpus, sharded so
# no global sequence is ever materialized.

SHUFFLE_SALT = "epoch0"   # new epoch => new salt => fresh permutation
SHUFFLE_SHARDS = 64       # export shard count (= writer parallelism)


@register(
    "training_order_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5('{SHUFFLE_SALT}|' || CAST(doc_id AS VARCHAR)) AS rnd
      FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(rnd, 1, 15))::BIGINT % {SHUFFLE_SHARDS} AS BIGINT)
             AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY ('0x' || substr(rnd, 1, 15))::BIGINT % {SHUFFLE_SHARDS}
             ORDER BY rnd, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: every document gets a salted
    hash, the hash assigns an export shard and orders documents WITHIN
    the shard. Readers consume shards round-robin and see a fixed
    pseudo-random global order; changing SHUFFLE_SALT (one constant)
    yields an independent permutation for the next epoch — the
    determinism property training reproducibility demands, which
    df.orderBy(rand()) cannot give (and which a global ROW_NUMBER
    would serialize).

    Scale shape: the hash and shard are pure projections; the only
    non-projection work is a per-shard window — {SHUFFLE_SHARDS}-way
    parallel, each sorting corpus/shards rows, never one global sort.
    Shard count = writer parallelism (same knob as pack_sequences'
    shards). Hash-uniform shards are skew-free by construction."""
    docs = load_table(spark, sf_dir, "documents")
    salted = F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("doc_id").cast("string"))
    h = docs.select(
        "doc_id",
        F.md5(salted).alias("rnd"),
        md5_bucket(salted, SHUFFLE_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("rnd", "doc_id")
    return h.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff — dataset versioning's core primitive: given two
# corpus versions, classify every document as unchanged / modified /
# deleted / added by full-outer-joining on the stable key and comparing
# content hashes. v2 here is derived deterministically from v1 (drop
# doc_id % 17 == 0, revise % 13 == 0, add a disjoint-id batch), so both
# engines reconstruct the identical pair of snapshots; in production v2
# is simply the next snapshot's table.
# ---------------------------------------------------------------------------


@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT -doc_id - 1 AS doc_id, text || ' new' AS text
      FROM documents WHERE doc_id % 19 = 0
    ),
    d AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'deleted'
                  WHEN md5(v1.text) <> md5(v2.text) THEN 'modified'
                  ELSE 'unchanged' END AS status,
             COALESCE(v2.text, v1.text) AS text
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM d GROUP BY status
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff summary: one id-keyed FULL OUTER join + content-hash
    compare, the plan every table-format time-travel diff reduces to. At
    100 TB both snapshots shuffle once on the key (or zero times if
    stored bucketed by doc_id — the layout the writer's save_bucketed
    path exists for); the hash compare is per-row. The change classes
    feed incremental reprocessing: only 'added'/'modified' re-enter the
    dedup/quality/embedding pipeline."""
    v1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = load_table(spark, sf_dir, "documents")
    kept = base.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" rev2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = base.filter(F.col("doc_id") % 19 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
    )
    v2 = kept.unionAll(added)
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "deleted")
        .when(F.md5(F.col("a.text").cast("binary")) != F.md5(F.col("b.text").cast("binary")), "modified")
        .otherwise("unchanged")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("b.text"), F.col("a.text")).alias("text"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
    )


@register(
    "corpus_incremental_stats",
    oracle="""
    WITH v2 AS (
      SELECT source,
             CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT source, text || ' new' AS text
      FROM documents WHERE doc_id % 19 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM v2 GROUP BY source
    """,
)
def corpus_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL stats maintenance: the new snapshot's per-source stats
    computed as v1 stats + signed deltas from the change classes
    (deleted: subtract, added: add, modified: subtract-old-add-new) —
    never a full rescan of the unchanged majority. The DuckDB oracle
    recomputes v2 stats DIRECTLY, so a hash match proves the delta
    algebra, not a mirrored implementation. At 100 TB this is the
    difference between touching the ~1% daily delta and re-aggregating
    the whole corpus; the same shape maintains any distributive/algebraic
    aggregate (COUNT/SUM/avg-via-sums)."""
    base = load_table(spark, sf_dir, "documents")

    def stats(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("source").agg(
            (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("n_docs"),
            (F.lit(sign) * F.sum(F.length("text"))).cast("long").alias("n_chars"),
            (F.lit(sign) * F.sum(F.size(F.split("text", " "))))
            .cast("long")
            .alias("n_tokens"),
        )

    v1 = base.select("source", "text")
    deleted = base.filter(F.col("doc_id") % 17 == 0).select("source", "text")
    mod = base.filter((F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 13 == 0))
    mod_old = mod.select("source", "text")
    mod_new = mod.select(
        "source", F.concat(F.col("text"), F.lit(" rev2")).alias("text")
    )
    added = base.filter(F.col("doc_id") % 19 == 0).select(
        "source", F.concat(F.col("text"), F.lit(" new")).alias("text")
    )
    pieces = [
        stats(v1, 1),        # baseline (maintained from the prior run)
        stats(deleted, -1),  # docs leaving the corpus
        stats(mod_old, -1),  # modified: retract the old contribution...
        stats(mod_new, 1),   # ...and admit the new one
        stats(added, 1),     # brand-new docs
    ]
    acc = pieces[0]
    for p in pieces[1:]:
        acc = acc.unionByName(p)
    return (
        acc.groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_docs") > 0)
    )


# ------------------------------------------------------- takedown cascade ----
#
# Right-to-be-forgotten / takedown compliance: a deletion request for a
# set of documents must cascade through every DERIVED artifact the
# pipeline materialized from them — the raw rows, the chunked store
# content, the inverted-index postings, and the shingle tables the dedup
# stack keys on. At 100 TB each leg is a semi-join from the (tiny,
# broadcastable) takedown list into one artifact — never a scan-and-
# filter of anything but the artifact itself, and the audit output is
# one row per artifact class.

TAKEDOWN_BUCKET = 23  # md5(doc_id) % 23 == 7 -> doc is under takedown


@register(
    "corpus_takedown_audit",
    oracle=f"""
    WITH takedown AS (
      SELECT doc_id, source, text, n_chars FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {TAKEDOWN_BUCKET} = 7
    ),
    chunk_rows AS (
      SELECT doc_id,
             CAST(ceil(n_chars / 64.0) AS BIGINT) AS n_chunks,
             CAST(n_chars AS BIGINT) AS chunk_bytes
      FROM takedown
    ),
    postings AS (
      SELECT COUNT(*) AS n, SUM(octet_length(encode(token))) AS b
      FROM (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM takedown
      )
    ),
    shingle_rows AS (
      SELECT COUNT(*) AS n, SUM(octet_length(encode(shingle))) AS b
      FROM (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ') AS shingle
        FROM (
          SELECT doc_id, text,
                 unnest(range(0, greatest(len(string_split(text, ' ')) - 2, 0))) AS i
          FROM takedown
        )
      )
    )
    SELECT 'documents' AS artifact,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes
    FROM takedown
    UNION ALL
    SELECT 'content_chunks', CAST(SUM(n_chunks) AS BIGINT), CAST(SUM(chunk_bytes) AS BIGINT)
    FROM chunk_rows
    UNION ALL
    SELECT 'index_postings', CAST(n AS BIGINT), CAST(b AS BIGINT) FROM postings
    UNION ALL
    SELECT 'shingle_rows', CAST(n AS BIGINT), CAST(b AS BIGINT) FROM shingle_rows
    """,
)
def corpus_takedown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown cascade audit: for the docs under deletion request
    (deterministic md5 bucket standing in for the request list), the row
    and byte counts to purge from each derived artifact — raw documents,
    the chunked content store (fsmodel sub-blocks), inverted-index
    postings, and the dedup shingle table. Every leg is driven from the
    takedown list side; artifact scans stay semi-join-prunable (at scale:
    broadcast the request list, partition-prune by doc/path key)."""
    from snackfs_spark.operators.dedup import shingles_df
    from snackfs_spark.sources.fsmodel import content_df, doc_path

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(
        md5_bucket(F.col("doc_id").cast("string"), TAKEDOWN_BUCKET) == 7
    )
    doc_row = target.agg(
        F.lit("documents").alias("artifact"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
    )
    # content chunks: semi-join the chunk store on the takedown paths
    paths = target.select(doc_path().alias("path"))
    chunks = content_df(spark, sf_dir).join(F.broadcast(paths), "path", "left_semi")
    chunk_row = chunks.agg(
        F.lit("content_chunks").alias("artifact"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("length").cast("long").alias("n_bytes"),
    )
    # inverted-index postings: distinct (doc, token) for takedown docs
    postings = (
        target.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    posting_row = postings.agg(
        F.lit("index_postings").alias("artifact"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.octet_length("token")).cast("long").alias("n_bytes"),
    )
    # shingle table: distinct 3-gram rows for takedown docs (semi-join
    # into the same derivation the dedup stack uses — the shared
    # memoized table, optimization r11)
    sh = distinct_shingles_df(spark, sf_dir).join(
        F.broadcast(target.select("doc_id")), "doc_id", "left_semi"
    )
    shingle_row = sh.agg(
        F.lit("shingle_rows").alias("artifact"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.octet_length("shingle")).cast("long").alias("n_bytes"),
    )
    return (
        doc_row.unionByName(chunk_row)
        .unionByName(posting_row)
        .unionByName(shingle_row)
    )


def _funnel_oracle() -> str:
    stages = f"""
    , s1 AS (SELECT k.doc_id FROM keepers k),
    s2 AS (SELECT s1.doc_id FROM s1 JOIN quality q ON q.doc_id = s1.doc_id),
    s3 AS (SELECT s2.doc_id FROM s2 JOIN fluent f ON f.doc_id = s2.doc_id),
    s4 AS (SELECT s3.doc_id FROM s3 LEFT JOIN sem_dropped sd
           ON sd.vec_id = s3.doc_id WHERE sd.vec_id IS NULL),
    s5 AS (SELECT doc_id FROM s4 WHERE {_BUCKET_SQL} < {TRAIN_PCT}),
    counts AS (
      SELECT 0 AS stage_idx, 'raw' AS stage,
             (SELECT COUNT(*) FROM documents) AS n_docs
      UNION ALL SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM s1)
      UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, 'fluency', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 4, 'semantic_dedup', (SELECT COUNT(*) FROM s4)
      UNION ALL SELECT 5, 'train_split', (SELECT COUNT(*) FROM s5)
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(lag(n_docs) OVER (ORDER BY stage_idx) - n_docs, 0)
                AS BIGINT) AS n_rejected
    FROM counts
    """
    return _corpus_v2_ctes() + stages


@register("corpus_funnel_report", oracle=_funnel_oracle())
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: the corpus-build funnel as per-stage
    cumulative survivor and rejection counts (raw -> exact dedup ->
    quality -> fluency -> semantic dedup -> train split) — the dataset-
    card / lineage table every production corpus ships with. Re-derives
    the SAME gate signals as corpus_build_v2 (shared oracle CTEs, shared
    Spark helpers), so the funnel can never disagree with the capstone;
    each stage count is a key-only semi-join chain and the report itself
    is six rows."""
    docs = load_table(spark, sf_dir, "documents")
    keepers, quality, fluent, sem_dropped = _corpus_v2_gates(spark, sf_dir, docs)
    s1 = keepers.localCheckpoint(eager=False)
    s2 = s1.join(quality, "doc_id", "left_semi").localCheckpoint(eager=False)
    s3 = s2.join(fluent, "doc_id", "left_semi").localCheckpoint(eager=False)
    s4 = s3.join(sem_dropped, "doc_id", "left_anti").localCheckpoint(eager=False)
    s5 = s4.filter(_bucket(F.col("doc_id")) < TRAIN_PCT)

    stages = [
        ("raw", docs.select("doc_id")),
        ("exact_dedup", s1),
        ("quality", s2),
        ("fluency", s3),
        ("semantic_dedup", s4),
        ("train_split", s5),
    ]
    counts = None
    for i, (name, df) in enumerate(stages):
        row = df.agg(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        counts = row if counts is None else counts.unionByName(row)
    w = Window.orderBy("stage_idx")
    return counts.select(
        "stage_idx",
        "stage",
        "n_docs",
        F.coalesce(F.lag("n_docs").over(w) - F.col("n_docs"), F.lit(0))
        .cast("long")
        .alias("n_rejected"),
    )


# ---------------------------------------------------------------------------
# Pareto-front (skyline) data selection.
#
# "Which documents are not strictly worse than any other document?" —
# the dominance query of preference-based data selection: keep doc d
# unless some d' is >= on EVERY objective and > on at least one.
# Objectives here: the stopword-permille fluency proxy (maximize) and
# document length (maximize) — the docs a budgeted selection would
# never discard first.
#
# The textbook skyline is the quadratic NOT EXISTS self-join — that IS
# the DuckDB oracle (cross-algorithm check, like corpus_incremental_
# stats). The engine side exploits the bounded first objective instead:
# with <= 1001 score cells, a doc survives iff it holds its cell's max
# length AND beats the running max length of all strictly-better cells,
# so the whole skyline needs one map-side per-cell max, one window over
# a <= 1001-row relation, and one broadcast map-back. No self-join at
# any corpus size.

@register(
    "corpus_pareto_front",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {STOPWORD_PERMILLE_SQL} AS score_cell, n_chars FROM documents
    )
    SELECT d.doc_id, d.score_cell, d.n_chars
    FROM d
    WHERE NOT EXISTS (
      SELECT 1 FROM d d2
      WHERE d2.score_cell >= d.score_cell AND d2.n_chars >= d.n_chars
        AND (d2.score_cell > d.score_cell OR d2.n_chars > d.n_chars)
    )
    """,
)
def corpus_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the corpus on (stopword-permille quality, n_chars),
    both maximized: the Pareto-optimal documents no budgeted selection
    would discard first. Dominance is >= on both objectives and > on at
    least one; ties on both objectives all survive.

    Scale: the oracle's NOT EXISTS self-join is quadratic — the engine
    never runs it. The quality score has <= 1001 cells, so a document
    is Pareto-optimal iff (a) it holds its cell's max n_chars and
    (b) that max strictly exceeds the running max over strictly-higher
    cells: one map-side per-cell aggregate, one single-partition window
    over the bounded histogram, one broadcast join back. The fact pass
    is one projected scan."""
    from snackfs_spark.operators.textstats import doc_quality_df

    d = doc_quality_df(spark, sf_dir).select(
        "doc_id",
        F.col("q").alias("score_cell"),
        "n_chars",
    )
    cellmax = d.groupBy("score_cell").agg(F.max("n_chars").alias("cmax"))
    # running max of strictly-better cells (rows precede = higher score)
    w = Window.orderBy(F.col("score_cell").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky_cells = (
        cellmax.withColumn("above", F.max("cmax").over(w))
        .filter(F.col("above").isNull() | (F.col("cmax") > F.col("above")))
        .select("score_cell", "cmax")
    )
    return (
        d.join(F.broadcast(sky_cells), "score_cell")
        .filter(F.col("n_chars") == F.col("cmax"))
        .select("doc_id", "score_cell", "n_chars")
    )


# Systematic PPS (probability-proportional-to-size) sampling: walk each
# stratum's cumulative character mass and take one pick at every
# PPS_STEP characters — the classic survey-sampling design, and the
# deterministic integer-exact cousin of weighted reservoir sampling
# (which needs u^(1/w) floats). A doc's pick count = how many step
# boundaries its [cum, cum + n_chars) interval straddles, so long docs
# can be picked more than once (that multiplicity IS the PPS weight).
PPS_STEP = 4096


@register(
    "sample_systematic_pps",
    oracle=f"""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM documents
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST((cum_before + n_chars) // {PPS_STEP}
                - cum_before // {PPS_STEP} AS BIGINT) AS n_picks
    FROM c
    WHERE (cum_before + n_chars) // {PPS_STEP}
          - cum_before // {PPS_STEP} >= 1
    """,
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample per source stratum: docs whose cumulative
    character interval contains a multiple of PPS_STEP, with the pick
    multiplicity as the exact PPS weight. Expected picks per doc =
    n_chars / PPS_STEP — size-proportional without any float in sight
    (both quotients are non-negative, dodging the Spark-truncating vs
    DuckDB-flooring signed-division divergence recorded in DESIGN.md).

    Scale: ONE window pass per stratum. The per-source running sum is
    the textbook two-phase prefix sum at cluster scale (per-partition
    subtotals + broadcast offsets — the fs_suboff_prefix_sum pattern);
    at this stratum count the single-pass window is the right plan."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cum_before"),
    )
    picks = F.expr(
        f"(cum_before + n_chars) div {PPS_STEP} - cum_before div {PPS_STEP}"
    )
    return (
        c.withColumn("n_picks", picks.cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select("source", "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "n_picks")
    )


# Exact-proportion stratified split (StratifiedShuffleSplit analog):
# md5-rank every doc within its (lang, source) stratum and cut at
# 80/90 permille — every stratum lands within 1 row of exact 80/10/10,
# unlike the hash split (split_assign_hash) whose proportions are only
# binomially close. The price is a per-stratum total order, so this is
# the EVAL-SET splitter: use it where exactness matters (strata of
# thousands-to-millions), and the shuffle-free hash split for the bulk
# 100 TB train partition.
SPLIT_TRAIN_P10 = 8   # tenths: [0, 8) train, [8, 9) val, [9, 10) test


@register(
    "split_exact_stratified",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id
             ) - 1 AS rnk,
             COUNT(*) OVER (PARTITION BY lang, source) AS n
      FROM documents
    )
    SELECT doc_id, lang, source,
           CASE WHEN 10 * rnk < {SPLIT_TRAIN_P10} * n THEN 'train'
                WHEN 10 * rnk < {SPLIT_TRAIN_P10 + 1} * n THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def split_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-proportion stratified split: within each
    (lang, source) stratum, docs are ranked by md5 fingerprint (a
    seedless shuffle both engines reproduce bit-for-bit) and the rank
    decides train/val/test at exact 80/10/10 cuts — 10·rank < 8·n is
    pure integer arithmetic, no float boundary, no approximation.

    Scale: one window pass per stratum. Exactness REQUIRES a
    per-stratum total order, so stratum size is the knob: this is the
    right tool for eval-set carving; the bulk train split at 100 TB
    stays on the order-free md5-bucket split (split_assign_hash),
    whose proportions converge binomially without any sort."""
    fp = md5_fp(F.col("doc_id").cast("string"))
    ws = Window.partitionBy("lang", "source").orderBy("fp", "doc_id")
    wn = Window.partitionBy("lang", "source")
    r = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", fp.alias("fp"))
        .withColumn("rnk", F.row_number().over(ws) - 1)
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    split = (
        F.when(10 * F.col("rnk") < SPLIT_TRAIN_P10 * F.col("n"), F.lit("train"))
        .when(10 * F.col("rnk") < (SPLIT_TRAIN_P10 + 1) * F.col("n"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return r.select("doc_id", "lang", "source", split.alias("split"))


# ---------------------------------------------------------- priority sample ----
#
# Priority sampling (Duffield, Lund, Thorup 2007): the weight-aware
# fixed-size sample with unbiased subset-sum estimates. Each item draws
# priority q = w / u for uniform u in (0,1]; the top-K priorities form
# the sample, and the (K+1)-th priority tau is the estimation
# threshold: estimator weight = max(w, tau) makes any subset-sum
# estimate unbiased with near-optimal variance. Complements the
# equal-probability samplers (split_assign_hash, sample_systematic_pps
# takes per-stratum running sums): priority sampling is the ONE-PASS,
# FIXED-SIZE, weight-proportional scheme a 100 TB telemetry pipe uses.
#
# Exactness: u derives from md5_fp (u = (fp+1)/2^60), so the priority
# is the exact integer ratio q = (w << 60) div (fp + 1) computed in
# decimal — no doubles anywhere, both engines agree bit-for-bit.
PRIORITY_SAMPLE_K = 100
_PRIORITY_SCALE = 1 << 60


@register(
    "sample_reservoir_priority",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
             CAST(n_chars AS HUGEINT) * {_PRIORITY_SCALE}
               // (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
               AS q
      FROM documents
    ),
    top AS (
      SELECT * FROM pri ORDER BY q DESC, doc_id LIMIT {PRIORITY_SAMPLE_K + 1}
    ),
    tau AS (SELECT MIN(q) AS tau FROM top)
    SELECT t.doc_id, t.source, t.w, CAST(t.q AS VARCHAR) AS priority,
           CAST(tau.tau AS VARCHAR) AS tau,
           CAST(GREATEST(t.w, tau.tau) AS VARCHAR) AS est_weight
    FROM top t CROSS JOIN tau
    ORDER BY t.q DESC, t.doc_id LIMIT {PRIORITY_SAMPLE_K}
    """,
)
def sample_reservoir_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sample of PRIORITY_SAMPLE_K documents, weight = n_chars:
    top-K exact-integer priorities q = (w << 60) div (md5_fp(doc)+1)
    with the (K+1)-th priority as the estimation threshold tau and the
    unbiased estimator weight max(w, tau) per kept doc. Priorities
    exceed int64 (w * 2^60), so they emit as decimal-backed strings.

    Scale: one projection computes q in codegen; the top-(K+1) is
    TakeOrderedAndProject (per-partition heaps, no global sort); tau is
    a 1-row broadcast back. One pass, fixed output, any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.expr(f"cast(w as decimal(38,0)) * {_PRIORITY_SCALE} div (fp + 1)")
    pri = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("w"),
        md5_fp(F.col("doc_id").cast("string")).alias("fp"),
    ).select("doc_id", "source", "w", q.alias("q"))
    top = pri.orderBy(F.col("q").desc(), "doc_id").limit(PRIORITY_SAMPLE_K + 1)
    top = top.localCheckpoint(eager=False)  # feeds tau AND the final cut
    tau = top.agg(F.min("q").alias("tau"))
    return (
        top.crossJoin(F.broadcast(tau))
        .orderBy(F.col("q").desc(), "doc_id")
        .limit(PRIORITY_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "w",
            F.col("q").cast("string").alias("priority"),
            F.col("tau").cast("string").alias("tau"),
            F.greatest(F.col("w").cast("decimal(38,0)"), F.col("tau"))
            .cast("string")
            .alias("est_weight"),
        )
    )


# ---------------------------------------------- cluster-safe splitting ----
#
# Near-dup-aware train/val/test assignment: hashing DOCUMENTS into
# splits (split_assign_hash) leaks — two near-identical docs can land
# in train and test, and the eval set silently contains training data
# the decontamination probe then has to catch. The leakage-free recipe
# splits by NEAR-DUP CLUSTER: every member of a connected component
# gets the component's split, so no near-dup pair ever spans a split
# boundary BY CONSTRUCTION (prevention, where
# split_contamination_check is detection). n_moved counts the docs
# whose cluster split differs from their naive doc-hash split — the
# exact leak volume the naive split would have shipped.
_CLUSTER_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(m.cluster_id AS VARCHAR)), 1, 15))::BIGINT"
    " % 100 AS INT)"
)
_DOC_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT"
    " % 100 AS INT)"
)


def _split_case(bucket_sql: str) -> str:
    return f"""CASE WHEN {bucket_sql} < {TRAIN_PCT} THEN 'train'
                WHEN {bucket_sql} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END"""


def _cluster_safe_oracle() -> str:
    from snackfs_spark.operators.dedup import _CC_REACH_CTES, _MINHASH_CTE

    return (
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + ","
        + _CC_REACH_CTES
        + f""",
    members AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT {_split_case(_CLUSTER_BUCKET_SQL)} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT m.cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN {_split_case(_CLUSTER_BUCKET_SQL)}
                          <> {_split_case(_DOC_BUCKET_SQL)}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
    FROM members m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY 1
    """
    )


@register("split_cluster_safe", oracle=_cluster_safe_oracle())
def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split summary: assign every doc the split of its
    near-dup CLUSTER (hash of the component's canonical min-label id,
    same 80/10/10 rule as split_assign_hash), so near-dup pairs never
    span splits. Reports per-split doc/cluster/char volume and n_moved
    — docs whose naive doc-hash split differs (the leak volume the
    naive split would have shipped).

    Scale: composes on dedup_cluster_canonical's label propagation
    (round cost = candidate graph, not corpus); this adds ONE
    doc_id-keyed join and a 3-key rollup. Splits remain stable under
    incremental re-ingest exactly when clusters are stable — new
    members inherit their cluster's split instead of reshuffling."""
    from snackfs_spark.operators.dedup import dedup_cluster_canonical

    labels = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = docs.join(labels, "doc_id")
    cluster_split = _split(_bucket(F.col("cluster_id")))
    doc_split = _split(_bucket(F.col("doc_id")))
    return (
        j.select(
            cluster_split.alias("split"),
            (cluster_split != doc_split).cast("int").alias("moved"),
            "cluster_id",
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("moved").cast("long").alias("n_moved"),
        )
    )


# --------------------------------------------------- temporal holdout ----
#
# Time-based eval carving for event data — the split family's third
# member after hash (order-free) and stratified (proportion-exact):
# train strictly before the boundary, test at/after, where the
# boundary is derived IN-PLAN as the first day of the last week of the
# observed range (a fixed calendar constant would rot with the
# fixture; the data-derived-knob rule). The leakage column every
# temporal split must publish: users appearing on BOTH sides — their
# test events are behaviorally contaminated by training history, the
# temporal analog of near-dup split leakage.
HOLDOUT_DAYS = 7


@register(
    "split_temporal_holdout",
    oracle=f"""
    WITH b AS (
      SELECT date_trunc('day', MAX(ts)) - INTERVAL {HOLDOUT_DAYS - 1} DAY
               AS boundary
      FROM events
    ),
    tagged AS (
      SELECT CASE WHEN e.ts < b.boundary THEN 'train' ELSE 'test' END AS split,
             e.user_id, e.event_id
      FROM events e CROSS JOIN b
    ),
    spanning AS (
      SELECT user_id FROM tagged
      GROUP BY user_id HAVING COUNT(DISTINCT split) = 2
    )
    SELECT t.split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CASE WHEN s.user_id IS NOT NULL
                                    THEN t.user_id END) AS BIGINT)
             AS n_spanning_users,
           CAST((1000 * COUNT(DISTINCT CASE WHEN s.user_id IS NOT NULL
                                            THEN t.user_id END))
                // COUNT(DISTINCT t.user_id) AS BIGINT)
             AS spanning_permille
    FROM tagged t LEFT JOIN spanning s ON s.user_id = t.user_id
    GROUP BY t.split
    """,
)
def split_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test carve of the event log: the final
    HOLDOUT_DAYS days (boundary derived in-plan from max event time)
    become test; reports per-split event/user volume plus the
    behavioral-leakage signal — users active on BOTH sides and their
    permille of the split's users.

    Scale: one 1-row boundary aggregate broadcasts; tagging is codegen;
    the spanning set is ONE user-keyed aggregate (map-side combinable)
    left-joined back shuffle-hashed; the rollup is 2 keys. The split
    is a pure function of (ts, max ts), stable under re-partitioning."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.timestamp_add(
            "DAY", F.lit(-(HOLDOUT_DAYS - 1)), F.date_trunc("day", F.max("ts"))
        ).alias("boundary")
    )
    tagged = ev.crossJoin(F.broadcast(b)).select(
        F.when(F.col("ts") < F.col("boundary"), "train")
        .otherwise("test")
        .alias("split"),
        "user_id",
    )
    tagged = tagged.localCheckpoint(eager=False)  # feeds spanning AND rollup
    spanning = (
        tagged.groupBy("user_id")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .select("user_id", F.lit(1).alias("spans"))
    )
    j = tagged.join(spanning.hint("shuffle_hash"), "user_id", "left")
    return j.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count_distinct(F.when(F.col("spans").isNotNull(), F.col("user_id")))
        .cast("long")
        .alias("n_spanning_users"),
        F.expr(
            "(1000 * count(DISTINCT CASE WHEN spans IS NOT NULL THEN user_id END))"
            " div count(DISTINCT user_id)"
        )
        .cast("long")
        .alias("spanning_permille"),
    )


# ---------------------------------------------------- sample-ratio check ----
#
# Sample-ratio-mismatch (SRM) guard (Fabijan et al. 2019 — the first
# check every experimentation platform runs): the hash split's observed
# train/val/test counts against the designed 80/10/10, scored with the
# exact Pearson chi-square as one rational. With E_i = n*p_i/100,
#   X^2 = sum (100*O_i - n*p_i)^2 / (100 * n * p_i)
# and multiplying through by LCM(p)=400 gives integer term weights
# 400/p_i in {5, 40}: chi2_num = sum (100*O_i - n*p_i)^2 * (400/p_i),
# chi2_den = 100 * 400 * n — both in decimal(38,0) (the squares exceed
# int64 two decades up), flagged against the df=2, alpha=.05 critical
# value 5.99 by the cross-multiplied integer compare 100*num > 599*den.
SRM_EXPECT = (("train", 80), ("val", 10), ("test", 10))
SRM_CRIT_X100 = 599  # chi-square critical value 5.99 (df=2, alpha=.05)


@register(
    "sample_srm_check",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN {_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
                  WHEN {_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    obs AS (
      SELECT e.split, e.pct, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_obs
      FROM (VALUES {", ".join(f"('{s}', {p})" for s, p in SRM_EXPECT)}) e(split, pct)
      LEFT JOIN (SELECT split, COUNT(*) AS n FROM assigned GROUP BY split) c
        ON c.split = e.split
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    chi AS (
      SELECT
        CAST(SUM(CAST((100 * n_obs - tot.n * pct) AS HUGEINT)
                 * (100 * n_obs - tot.n * pct) * (400 // pct)) AS HUGEINT) AS chi2_num,
        CAST(40000 * MAX(tot.n) AS HUGEINT) AS chi2_den
      FROM obs CROSS JOIN tot
    )
    SELECT obs.split, obs.n_obs,
           CAST(obs.pct * 10 AS BIGINT) AS exp_permille,
           CAST((1000 * obs.n_obs) // tot.n AS BIGINT) AS obs_permille,
           CAST(chi.chi2_num AS DOUBLE) / CAST(chi.chi2_den AS DOUBLE) AS chi2,
           CAST(CASE WHEN 100 * chi.chi2_num > {SRM_CRIT_X100} * chi.chi2_den
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM obs CROSS JOIN tot CROSS JOIN chi
    """,
)
def sample_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard on the hash split: per-split observed
    count and permille vs the designed 80/10/10, the exact-rational
    Pearson chi-square as its correctly-rounded double, and the
    alpha=.05 flag by cross-multiplied integer compare — the assignment
    sanity check run before any experiment or eval readout is trusted.

    Scale: ONE map-side 3-key aggregate over the scan; the expected
    lattice, chi-square fold and flag are bounded 3-row algebra in
    decimal(38,0) — nothing data-proportional past the count."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(_split(_bucket(F.col("doc_id"))).alias("split"))
    counts = assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    expect = spark.createDataFrame(
        [(s, p) for s, p in SRM_EXPECT], "split string, pct long"
    )
    obs = (
        F.broadcast(expect)
        .join(counts, "split", "left")
        .select("split", "pct", F.coalesce("n", F.lit(0)).cast("long").alias("n_obs"))
        # 3 rows; checkpoint so the four consumers (total, chi fold,
        # final projection) read it instead of re-running the scan
        .localCheckpoint(eager=False)
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    d38 = "decimal(38,0)"
    chi = obs.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.expr("100 * n_obs - n * pct").cast(d38))
            * F.expr("100 * n_obs - n * pct").cast(d38)
            * F.expr("400 div pct").cast(d38)
        )
        .cast(d38)
        .alias("chi2_num"),
        (F.lit(40000).cast(d38) * F.max("n").cast(d38)).cast(d38).alias("chi2_den"),
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(chi))
        .select(
            "split",
            "n_obs",
            (F.col("pct") * 10).cast("long").alias("exp_permille"),
            F.expr("(1000 * n_obs) div n").cast("long").alias("obs_permille"),
            (F.col("chi2_num").cast("double") / F.col("chi2_den").cast("double")).alias(
                "chi2"
            ),
            F.when(
                F.lit(100).cast(d38) * F.col("chi2_num")
                > F.lit(SRM_CRIT_X100).cast(d38) * F.col("chi2_den"),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("srm_flag"),
        )
    )


# ------------------------------------------------- Neyman allocation ----
#
# Optimal stratified-sample allocation (Neyman 1934): sample budget per
# stratum proportional to N_h * S_h (size x std dev) — big AND variable
# strata deserve more of the budget than proportional allocation gives.
# The weight is computed WITHOUT float std dev: N_h*S_h =
# sqrt(N_h * sum(y^2) - (sum y)^2), taken as an exact INTEGER square
# root (double sqrt + a +/-1 correction pair, exact while the radicand
# holds below 2^52-scale precision; the decimal(38,0)/Newton widening
# is the documented lever beyond). Seats are dealt by largest remainder
# (Hamilton), fully deterministic with (remainder, lang) tie-break —
# the allocation sums to the budget EXACTLY.
NEYMAN_BUDGET = 1000
# exact integer sqrt: floor(sqrt(x)) from the double estimate, then two
# one-sided corrections fix any final-ulp error of the float sqrt
_ISQRT_SQL = (
    "(CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    " + CASE WHEN (CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT) + 1)"
    "           * (CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT) + 1) <= {x}"
    "        THEN 1 ELSE 0 END"
    " - CASE WHEN CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    "           * CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT) > {x}"
    "        THEN 1 ELSE 0 END)"
)


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH st AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(n_chars) AS BIGINT) AS sy,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS syy
      FROM documents GROUP BY lang
    ),
    wts AS (
      SELECT lang, n_h,
             CAST(n_h * syy - sy * sy AS BIGINT) AS radicand,
             {_ISQRT_SQL.format(x="(n_h * syy - sy * sy)")} AS w
      FROM st
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts),
    fl AS (
      SELECT lang, n_h, radicand, w,
             CAST(({NEYMAN_BUDGET} * w) // tw AS BIGINT) AS alloc_floor,
             CAST(({NEYMAN_BUDGET} * w) % tw AS BIGINT) AS rem
      FROM wts CROSS JOIN tot
    ),
    extras AS (
      SELECT CAST({NEYMAN_BUDGET} AS BIGINT)
             - CAST((SELECT SUM(alloc_floor) FROM fl) AS BIGINT) AS n_extra
    ),
    ranked AS (
      SELECT fl.*, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      FROM fl
    )
    SELECT lang, n_h, radicand, w, alloc_floor, rem,
           CAST(CASE WHEN rk <= e.n_extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(alloc_floor + CASE WHEN rk <= e.n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS n_alloc
    FROM ranked CROSS JOIN extras e
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation over language strata: per
    stratum the exact integer N_h*S_h weight (integer square root of
    the variance radicand — no float std dev), the largest-remainder
    seat deal, and the final allocation that sums to the budget
    exactly — the stratified-sampling planner that beats proportional
    allocation whenever strata differ in spread.

    Scale: one map-side 3-moment aggregate per stratum; everything
    after runs on the bounded stratum relation (windows over |langs|
    rows). The radicand uses int64 here; the decimal(38,0) + Newton
    isqrt widening is the documented lever past ~2^52-scale moments."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("sy"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("syy"),
    )
    isqrt = _ISQRT_SQL.replace("//", "div").format(x="radicand")
    wts = st.select(
        "lang",
        "n_h",
        (F.col("n_h") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("radicand"),
    ).withColumn("w", F.expr(isqrt).cast("long")).localCheckpoint(eager=False)
    # bounded |strata| rows; checkpoint so the four consumers read it
    # instead of re-running the moment scan
    tot = wts.agg(F.sum("w").cast("long").alias("tw"))
    fl = wts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        "radicand",
        "w",
        F.expr(f"({NEYMAN_BUDGET} * w) div tw").cast("long").alias("alloc_floor"),
        F.expr(f"({NEYMAN_BUDGET} * w) % tw").cast("long").alias("rem"),
    )
    extras = fl.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("alloc_floor")).cast("long").alias("n_extra")
    )
    rk = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(F.col("rem").desc(), F.col("lang"))
    )
    return (
        fl.withColumn("rk", rk)
        .crossJoin(F.broadcast(extras))
        .select(
            "lang",
            "n_h",
            "radicand",
            "w",
            "alloc_floor",
            "rem",
            F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0).cast("long").alias("extra"),
            (
                F.col("alloc_floor")
                + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alloc"),
        )
    )


# ------------------------------------------------ balanced downsample ----
#
# Class-balanced downsampling (the imbalanced-training fix): every
# language stratum is cut to the MINORITY class size m, keeping each
# stratum's first m documents in deterministic md5 order. Selection is
# exact and scale-safe via the two-phase quota: docs hash into 1024
# md5 buckets per stratum (the bounded histogram carries cross-bucket
# prefix counts), and the per-doc rank is bucket-prefix + an in-bucket
# row_number — windows partition on (lang, bucket), so partitions stay
# ~corpus/5120 regardless of class skew, unlike a rank over 5 giant
# class partitions. The order is bucket-major md5 ((fp % 1024), fp,
# doc_id) in BOTH engines — a uniform hash order, stable under
# incremental re-ingest.
BAL_BUCKETS = 1024


@register(
    "sample_balanced_classes",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS fp
      FROM documents
    ),
    m AS (
      SELECT CAST(MIN(c) AS BIGINT) AS m
      FROM (SELECT COUNT(*) AS c FROM d GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY fp % {BAL_BUCKETS}, fp, doc_id) AS rk
      FROM d
    )
    SELECT ranked.doc_id, ranked.lang, ranked.rk, m.m AS class_quota
    FROM ranked CROSS JOIN m
    WHERE ranked.rk <= m.m
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced downsample: every language cut to the minority class
    size in deterministic bucket-major md5 order — the selected
    (doc_id, lang, rank) table plus the shared quota, for loss-balanced
    training without class weights.

    Scale: the two-phase quota — bounded (lang x 1024-bucket) prefix
    histogram + in-bucket row_number — keeps every window partition at
    ~corpus/(|langs|*1024) rows; no rank ever runs over a whole class
    partition (the ABC/Gini banded-rank pattern on the hash axis)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        md5_fp(F.col("doc_id").cast("string")).alias("fp"),
    ).withColumn("b", F.col("fp") % BAL_BUCKETS)
    m = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").cast("long").alias("m"))
    )
    hist = d.groupBy("lang", "b").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    wpref = Window.partitionBy("lang").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = hist.select(
        "lang",
        "b",
        F.coalesce(F.sum("bn").over(wpref), F.lit(0)).cast("long").alias("before"),
    )
    win = Window.partitionBy("lang", "b").orderBy("fp", "doc_id")
    ranked = (
        d.join(F.broadcast(pref), ["lang", "b"])
        .withColumn("rk", (F.col("before") + F.row_number().over(win)).cast("long"))
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang", "rk", F.col("m").alias("class_quota"))
    )


# --------------------------------------------- split distribution check ----
#
# Composition guard completing the SRM pair: the ratio check
# (sample_srm_check) verifies split SIZES; this verifies split
# COMPOSITION — per split, the (lang) distribution against the corpus
# distribution by exact cross-multiplied total variation (the
# events_drift_tv pattern on the split axis). A fair hash split keeps
# every TV near zero; a composition skew here with a clean SRM means
# the assignment key is correlated with the stratum — the bug class
# where someone hashes a non-uniform key.


@register(
    "split_distribution_check",
    oracle=f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
                  WHEN {_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    cells AS (
      SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM assigned GROUP BY split, lang
    ),
    stot AS (SELECT split, CAST(SUM(n) AS BIGINT) AS sn FROM cells GROUP BY split),
    corp AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cn FROM assigned GROUP BY lang),
    -- named n_corpus, NOT N: both engines resolve identifiers
    -- case-insensitively, so a column n and a column N in one relation
    -- silently alias each other (measured: DuckDB bound both to the
    -- first, inflating the TV 250x)
    ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM assigned),
    lattice AS (
      SELECT s.split, c.lang, s.sn, c.cn, ctot.n_corpus,
             CAST(COALESCE(x.n, 0) AS BIGINT) AS n
      FROM stot s CROSS JOIN corp c CROSS JOIN ctot
      LEFT JOIN cells x ON x.split = s.split AND x.lang = c.lang
    )
    SELECT split, MAX(sn) AS n_split,
           CAST(SUM(abs(n * n_corpus - cn * sn)) AS BIGINT) AS tv_num,
           CAST(2 * MAX(sn) * MAX(n_corpus) AS BIGINT) AS tv_den,
           CAST(SUM(abs(n * n_corpus - cn * sn)) AS DOUBLE)
             / (2 * MAX(sn) * MAX(n_corpus)) AS tv
    FROM lattice GROUP BY split
    """,
)
def split_distribution_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split composition guard: per split the exact total-variation
    distance of its language distribution from the corpus distribution
    (cross-multiplied integers over the common sn*N denominator) — the
    companion to the SRM size check; together they certify the hash
    split is fair in count AND composition.

    Scale: one scan collapses onto (split, lang) cells; the dense
    lattice is |splits| x |langs| bounded algebra (densified because a
    missing cell must still contribute its corpus mass)."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "lang", _split(_bucket(F.col("doc_id"))).alias("split")
    ).localCheckpoint(eager=False)
    cells = assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stot = cells.groupBy("split").agg(F.sum("n").cast("long").alias("sn"))
    corp = assigned.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    ctot = assigned.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    lattice = (
        stot.crossJoin(F.broadcast(corp))
        .crossJoin(F.broadcast(ctot))
        .join(F.broadcast(cells), ["split", "lang"], "left")
        .select(
            "split",
            "lang",
            "sn",
            "cn",
            "n_corpus",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    return lattice.groupBy("split").agg(
        F.max("sn").cast("long").alias("n_split"),
        F.sum(F.abs(F.col("n") * F.col("n_corpus") - F.col("cn") * F.col("sn")))
        .cast("long")
        .alias("tv_num"),
        (F.lit(2) * F.max("sn") * F.max("n_corpus")).cast("long").alias("tv_den"),
        (
            F.sum(
                F.abs(F.col("n") * F.col("n_corpus") - F.col("cn") * F.col("sn"))
            ).cast("double")
            / (F.lit(2) * F.max("sn") * F.max("n_corpus")).cast("double")
        ).alias("tv"),
    )


# ------------------------------------------- two-proportion A/B test ----
#
# Pearson chi-square / two-proportion z-test for an A/B experiment:
# arm = user_id mod 2 (the deterministic hash-mod assignment the split
# operators use), conversion = ACTIVATION — the user's first 'purchase'
# lands within AB_CONV_DAYS of their first event (every user in this
# corpus eventually purchases, so the raw >= 1-purchase rate is a
# degenerate 100%; the activation-window rate is the metric an A/B
# readout would actually test). The statistic is kept as the EXACT
# rational
#   z^2 = N * (c0*n1 - c1*n0)^2 / (n0 * n1 * C * (N - C))
# (N = n0+n1 users, C = c0+c1 conversions) and the alpha = .05 decision
# (z^2 > 3.8415) is the cross-multiplied integer compare
#   10000 * num > 38415 * den
# in decimal(38,0) / HUGEINT — no float stat, no p-value libm. Headroom:
# both sides stay under 1e38 for arms up to ~3e5 users; beyond, divide
# the four counts by their gcd (or widen to two-limb) — documented
# lever, never silent. Under the session's pinned ANSI mode
# (session.py) decimal(38,0) overflow raises ARITHMETIC_OVERFLOW at the
# expression itself — that raise is the PRIMARY guard; the in-plan
# isNull->assert_true traps below are the backstop for non-ANSI
# deployments where overflow yields NULL (r8 ADVICE).
AB_CRIT_X10000 = 38415  # chi2_{1, 0.05} = 3.8415
AB_CONV_DAYS = 2        # activation window: first purchase within N days


@register(
    "events_two_proportion_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id % 2 AS arm,
             CASE WHEN date_diff('day', MIN(CAST(ts AS DATE)),
                    MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END)) <= {AB_CONV_DAYS}
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
      FROM u GROUP BY arm
    ),
    tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(c) AS HUGEINT) AS cc,
             CAST(MAX(CASE WHEN arm = 0 THEN n END) AS HUGEINT) AS n0,
             CAST(MAX(CASE WHEN arm = 1 THEN n END) AS HUGEINT) AS n1,
             CAST(MAX(CASE WHEN arm = 0 THEN c END) AS HUGEINT) AS c0,
             CAST(MAX(CASE WHEN arm = 1 THEN c END) AS HUGEINT) AS c1
      FROM arms
    ),
    stat AS (
      SELECT nn * (c0 * n1 - c1 * n0) * (c0 * n1 - c1 * n0) AS num,
             n0 * n1 * cc * (nn - cc) AS den
      FROM tot
    )
    SELECT arms.arm, arms.n AS n_users, arms.c AS n_converted,
           CAST((1000000 * arms.c) // arms.n AS BIGINT) AS rate_ppm,
           CAST(stat.num AS VARCHAR) AS chi2_num,
           CAST(stat.den AS VARCHAR) AS chi2_den,
           CAST(CASE WHEN 10000 * stat.num > {AB_CRIT_X10000} * stat.den
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM arms CROSS JOIN stat
    """,
)
def events_two_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion-rate hypothesis test: per arm the user and
    converter counts and rate (ppm), plus the exact rational chi-square
    statistic (num/den as strings — exceeds int64 by design) and the
    alpha = .05 significance flag via cross-multiplied integer compare.

    Scale: ONE event scan collapses map-side onto (user), then onto the
    2-row arm relation; all test algebra is bounded 2-row crossJoins.
    The decimal(38,0) legs fail loudly on overflow: ANSI mode (pinned
    in session.py) raises at the expression; the isNull trap is the
    non-ANSI backstop."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.datediff(
                F.min(
                    F.when(
                        F.col("event_type") == "purchase", F.to_date("ts")
                    )
                ),
                F.min(F.to_date("ts")),
            )
            <= AB_CONV_DAYS,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("conv")
    )
    arms = (
        u.select(F.pmod("user_id", F.lit(2)).cast("long").alias("arm"), "conv")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    d38 = "decimal(38,0)"
    tot = arms.agg(
        F.sum("n").cast(d38).alias("nn"),
        F.sum("c").cast(d38).alias("cc"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).cast(d38).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).cast(d38).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).cast(d38).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).cast(d38).alias("c1"),
    )
    diff = F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0")
    stat = tot.select(
        (F.col("nn") * diff * diff).alias("num"),
        (F.col("n0") * F.col("n1") * F.col("cc") * (F.col("nn") - F.col("cc"))).alias(
            "den"
        ),
    ).select(
        "num",
        "den",
        # the cross-multiplied comparison legs can overflow decimal(38,0)
        # on their own even when num/den fit, so materialize them first
        (F.col("num") * 10000).alias("num_x"),
        (F.col("den") * AB_CRIT_X10000).alias("den_x"),
    ).select(
        "num",
        "den",
        # rule-7 trap (non-ANSI backstop; under the pinned ANSI mode the
        # overflow already raised upstream): inputs are non-null, so a
        # NULL anywhere in the rational OR its comparison products can
        # only mean decimal(38,0) overflow — raise, don't silently
        # mis-flag `significant`
        F.when(
            F.col("num").isNull()
            | F.col("den").isNull()
            | F.col("num_x").isNull()
            | F.col("den_x").isNull(),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "events_two_proportion_test: chi-square rational exceeded"
                    " decimal(38,0); reduce counts by gcd or widen limbs"
                ),
            ).cast("boolean"),
        )
        .otherwise(F.col("num_x") > F.col("den_x"))
        .alias("sig"),
    )
    return arms.crossJoin(F.broadcast(stat)).select(
        "arm",
        F.col("n").alias("n_users"),
        F.col("c").alias("n_converted"),
        F.expr("(1000000 * c) div n").cast("long").alias("rate_ppm"),
        F.col("num").cast("string").alias("chi2_num"),
        F.col("den").cast("string").alias("chi2_den"),
        F.col("sig").cast("long").alias("significant"),
    )


# ------------------------------------ budget apportionment (Hamilton) ----
#
# Exact token-budget apportionment across sources by the Hamilton /
# largest-remainder method: each source's ideal share of the global
# budget is B * w_s / W (an exact rational); every source gets the
# floor, and the R = B - sum(floors) leftover seats go to the R largest
# remainders (B*w_s mod W), ties to the lexicographically smallest
# source. The output quotas sum to EXACTLY B — the property
# proportional-rounding by multiplication cannot give — which is what a
# sampling pass downstream needs (mixture_temperature reweights
# shares; this turns shares into integral per-source quotas).
APPORTION_BUDGET = 100_000  # tokens


@register(
    "corpus_budget_apportionment",
    oracle=f"""
    WITH w AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM w),
    q AS (
      SELECT w.source, w.tokens, tot.total,
             ({APPORTION_BUDGET} * w.tokens) // tot.total AS floor_quota,
             ({APPORTION_BUDGET} * w.tokens) % tot.total AS remainder_num
      FROM w CROSS JOIN tot
    ),
    r AS (
      SELECT CAST({APPORTION_BUDGET} - SUM(floor_quota) AS BIGINT) AS leftover
      FROM q
    ),
    ranked AS (
      SELECT q.*, r.leftover,
             ROW_NUMBER() OVER (ORDER BY q.remainder_num DESC, q.source)
               AS rem_rank
      FROM q CROSS JOIN r
    )
    SELECT source, tokens,
           CAST((1000000 * tokens) // total AS BIGINT) AS share_ppm,
           CAST(floor_quota AS BIGINT) AS floor_quota,
           CAST(remainder_num AS BIGINT) AS remainder_num,
           CAST(CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra_token,
           CAST(floor_quota + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS final_quota
    FROM ranked
    """,
)
def corpus_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integral per-source token quotas for a {APPORTION_BUDGET}-token
    build by largest-remainder apportionment: per source its token
    weight, exact ppm share, floored ideal quota, the remainder that
    competes for leftover tokens, and the final quota — final quotas
    sum to EXACTLY the budget (the invariant multiplicative rounding
    breaks, and the reason quota systems use Hamilton's method).

    Scale: ONE corpus scan collapses map-side onto sources; everything
    after is |sources|-sized exact-integer algebra (the remainder rank
    is a window over the source relation, bounded by the catalog, not
    the corpus)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    tot = w.agg(F.sum("tokens").cast("long").alias("total"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        "total",
        F.expr(f"({APPORTION_BUDGET} * tokens) div total").alias("floor_quota"),
        (F.lit(APPORTION_BUDGET) * F.col("tokens") % F.col("total")).alias(
            "remainder_num"
        ),
    )
    r = q.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("floor_quota")).cast("long").alias(
            "leftover"
        )
    )
    ranked = q.crossJoin(F.broadcast(r)).withColumn(
        "rem_rank",
        F.row_number().over(
            Window.orderBy(F.col("remainder_num").desc(), F.col("source"))
        ),
    )
    extra = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "source",
        "tokens",
        F.expr("(1000000 * tokens) div total").cast("long").alias("share_ppm"),
        F.col("floor_quota").cast("long").alias("floor_quota"),
        F.col("remainder_num").cast("long").alias("remainder_num"),
        extra.cast("long").alias("extra_token"),
        (F.col("floor_quota") + extra).cast("long").alias("final_quota"),
    )


# ----------------------------------------- A/B power analysis grid ----
#
# Pre-test power analysis for the two-proportion experiment: given the
# OBSERVED baseline conversion (arm 0 of events_two_proportion_test's
# assignment) and the current per-arm size, which absolute lifts (ppm
# grid) are detectable at alpha = .05 two-sided / 80% power, and what
# per-arm n would each lift need? The normal-quantile constant
# (z_.975 + z_.80)^2 = (1.959964 + 0.841621)^2 is injected as the exact
# rational 7849/1000 (the standard 3-digit rounding of 7.84896...),
# so the whole readout is integer-exact: with p1 = c0/n0, delta = e/1e6
# and p2 = p1 + delta, the bracket
#   S = c0*(n0 - c0)*1e12 + (c0*1e6 + n0*e)*(n0*1e6 - c0*1e6 - n0*e)
# equals (p1(1-p1) + p2(1-p2)) * n0^2 * 1e12 exactly, and
#   detectable  <=>  n * e^2 * n0^2 * Z2_DEN >= Z2_NUM * S
#   required_n  =    ceil(Z2_NUM * S / (Z2_DEN * e^2 * n0^2))
# — cross-multiplied on decimal(38,0)/HUGEINT legs (the products pass
# int64 exactly when arms pass ~10^5 users; rule-7 traps cover the
# decimal(38,0) ceiling itself).
AB_POWER_Z2_NUM, AB_POWER_Z2_DEN = 7849, 1000
AB_POWER_EFFECTS_PPM = (10_000, 20_000, 50_000, 100_000)


@register(
    "sample_ab_power_grid",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN datediff('day',
                    MIN(CAST(ts AS DATE)),
                    MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END)) <= {AB_CONV_DAYS}
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS c
      FROM u GROUP BY 1
    ),
    base AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN c END) AS c0,
             LEAST(MAX(CASE WHEN arm = 0 THEN n END),
                   MAX(CASE WHEN arm = 1 THEN n END)) AS n_arm
      FROM arms
    ),
    grid AS (SELECT unnest([{", ".join(str(e) for e in AB_POWER_EFFECTS_PPM)}]) AS effect_ppm),
    calc AS (
      SELECT g.effect_ppm, b.n0, b.c0, b.n_arm,
             CAST(b.c0 AS HUGEINT) * (b.n0 - b.c0) * 1000000000000
               + (CAST(b.c0 AS HUGEINT) * 1000000 + CAST(b.n0 AS HUGEINT) * g.effect_ppm)
                 * (CAST(b.n0 AS HUGEINT) * 1000000
                    - CAST(b.c0 AS HUGEINT) * 1000000
                    - CAST(b.n0 AS HUGEINT) * g.effect_ppm) AS s
      FROM grid g CROSS JOIN base b
    )
    SELECT effect_ppm,
           n_arm AS n_per_arm,
           CAST((1000000 * c0) // n0 AS BIGINT) AS baseline_ppm,
           CAST(CASE WHEN CAST(n_arm AS HUGEINT) * effect_ppm * effect_ppm
                          * n0 * n0 * {AB_POWER_Z2_DEN}
                          >= {AB_POWER_Z2_NUM} * s
                THEN 1 ELSE 0 END AS BIGINT) AS detectable,
           CAST(({AB_POWER_Z2_NUM} * s
                 + CAST(effect_ppm AS HUGEINT) * effect_ppm * n0 * n0
                   * {AB_POWER_Z2_DEN} - 1)
                // (CAST(effect_ppm AS HUGEINT) * effect_ppm * n0 * n0
                    * {AB_POWER_Z2_DEN}) AS BIGINT) AS required_n_per_arm
    FROM calc
    """,
)
def sample_ab_power_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing readout: for each candidate absolute lift on
    the ppm grid, whether the CURRENT per-arm size already detects it
    (alpha = .05 two-sided, 80% power, observed baseline) and the exact
    ceil required per-arm n — the go/no-go table a team reads before
    burning traffic on an undersized test. Integer-exact end to end
    (injected rational z-constant, cross-multiplied comparisons).

    Scale: ONE event scan collapses map-side onto users then onto the
    2-row arm relation (the events_two_proportion_test posture); the
    grid algebra is |grid| rows of decimal arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.datediff(
                F.min(
                    F.when(F.col("event_type") == "purchase", F.to_date("ts"))
                ),
                F.min(F.to_date("ts")),
            )
            <= AB_CONV_DAYS,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("conv")
    )
    arms = (
        u.select(F.pmod("user_id", F.lit(2)).cast("long").alias("arm"), "conv")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    base = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("c0"),
        F.least(
            F.max(F.when(F.col("arm") == 0, F.col("n"))),
            F.max(F.when(F.col("arm") == 1, F.col("n"))),
        ).alias("n_arm"),
    )
    grid = spark.createDataFrame(
        [(e,) for e in AB_POWER_EFFECTS_PPM], "effect_ppm long"
    )
    d38 = "decimal(38,0)"
    calc = grid.crossJoin(F.broadcast(base)).select(
        "effect_ppm",
        "n0",
        "c0",
        "n_arm",
        (
            F.col("c0").cast(d38) * (F.col("n0") - F.col("c0"))
            * F.lit(1_000_000_000_000).cast(d38)
            + (
                F.col("c0").cast(d38) * 1_000_000
                + F.col("n0").cast(d38) * F.col("effect_ppm")
            )
            * (
                F.col("n0").cast(d38) * 1_000_000
                - F.col("c0").cast(d38) * 1_000_000
                - F.col("n0").cast(d38) * F.col("effect_ppm")
            )
        ).alias("s"),
    )
    lhs = F.expr(
        f"CAST(n_arm AS decimal(38,0)) * effect_ppm * effect_ppm * n0 * n0"
        f" * {AB_POWER_Z2_DEN}"
    )
    den = F.expr(
        f"CAST(effect_ppm AS decimal(38,0)) * effect_ppm * n0 * n0"
        f" * {AB_POWER_Z2_DEN}"
    )
    num = F.lit(AB_POWER_Z2_NUM).cast(d38) * F.col("s")
    # rule-7 trap (non-ANSI backstop; ANSI raises upstream): all inputs
    # non-null, so NULL in any decimal leg can only mean overflow
    guarded = calc.select(
        "*",
        F.when(
            lhs.isNull() | num.isNull() | den.isNull(),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "sample_ab_power_grid: power comparison exceeded"
                    " decimal(38,0); reduce by gcd or widen limbs"
                ),
            ).cast("boolean"),
        )
        .otherwise(lhs >= num)
        .alias("det"),
        ((num + den - 1).cast(d38)).alias("ceil_num"),
        den.alias("ceil_den"),
    )
    return guarded.select(
        "effect_ppm",
        F.col("n_arm").alias("n_per_arm"),
        F.expr("(1000000 * c0) div n0").cast("long").alias("baseline_ppm"),
        F.col("det").cast("long").alias("detectable"),
        F.expr("ceil_num div ceil_den").cast("long").alias("required_n_per_arm"),
    )


# ------------------------------------------- Mann-Whitney U test ----
#
# Non-parametric two-sample test on the per-user value totals between
# the two experiment arms (Mann-Whitney-Wilcoxon): exact tie-corrected
# rank algebra on the integer lattice. Midranks are held DOUBLED
# (2*midrank = rank_before*2 + tie_count + 1 — always an integer), the
# U statistic doubled likewise, and the normal-approximation
# significance uses the tie-corrected variance as an exact rational
#   var = n1*n2*((n+1)*n*(n-1) - SUM(t^3 - t)) / (12*n*(n-1))
# compared cross-multiplied against z_.975^2 = 38415/10000 — no
# floats, no sqrt. The oracle computes midranks with plain windowed
# ranks (cross-algorithm check of the banded-rank decomposition).
#
# Scale: the engine never executes a global sort — cumulative
# counts-before come from the two-phase banded rank (dedup_entity_snm
# posture): per-VALUE tie groups collapse map-side, value-range bands
# aggregate, ONE prefix sum runs over the bounded band axis, and
# within-band prefixes are band-partitioned windows. The decimal(38,0)
# legs hold to ~10^6 users per arm and trap loudly past that (rule 7).
MW_BAND_CENTS = 1_000_000  # $10k value-range band for the rank prefix


@shared
def arm_metric_groups_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct per-user value-total metrics with per-arm user counts
    (metric, c0, c1) — the shared sufficient statistic of BOTH
    two-sample tests: Mann-Whitney rank sums (c = c0 + c1) and the KS
    ECDF gap read nothing else. Memoized per (session, sf_dir) so the
    second test skips the events scan and the user-keyed shuffle
    (r11 opt, the kmeans_cents pattern)."""
    ev = fan_out(load_table(spark, sf_dir, "events"), spark)
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.bround(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("metric")
        )
        .select(
            F.pmod("user_id", F.lit(2)).cast("long").alias("arm"),
            "metric",
        )
    )
    return (
        u.groupBy("metric")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
        )
        .localCheckpoint(eager=False)
    )


@register(
    "sample_mann_whitney_u",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(SUM(CAST(round_even(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS metric
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT arm, metric,
             CAST(2 * COUNT(*) OVER (ORDER BY metric
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - COUNT(*) OVER (PARTITION BY metric
                 ORDER BY metric ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) * 2
               + COUNT(*) OVER (PARTITION BY metric) + 1 AS BIGINT) AS r2
      FROM u
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(r2) AS BIGINT) AS rank_sum_x2
      FROM ranked GROUP BY arm
    ),
    ties AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS t
      FROM (SELECT COUNT(*) AS c FROM u GROUP BY metric)
    ),
    stat AS (
      SELECT a0.n_users AS n1, a1.n_users AS n2,
             a0.rank_sum_x2 - a0.n_users * (a0.n_users + 1) AS u1_x2,
             CAST(a0.n_users AS HUGEINT) + a1.n_users AS n
      FROM (SELECT * FROM arms WHERE arm = 0) a0,
           (SELECT * FROM arms WHERE arm = 1) a1
    ),
    sig AS (
      SELECT s.*,
             CAST(s.u1_x2 - s.n1 * s.n2 AS HUGEINT) AS d2,
             CAST(s.n1 AS HUGEINT) * s.n2
               * ((s.n + 1) * s.n * (s.n - 1) - t.t) AS v_num,
             CAST(12 AS HUGEINT) * s.n * (s.n - 1) AS v_den
      FROM stat s CROSS JOIN ties t
    )
    SELECT a.arm, a.n_users, a.rank_sum_x2,
           CAST(CASE WHEN a.arm = 0 THEN g.u1_x2
                ELSE 2 * g.n1 * g.n2 - g.u1_x2 END AS BIGINT) AS u_x2,
           CAST(g.v_num AS VARCHAR) AS var_num,
           CAST(g.v_den AS VARCHAR) AS var_den,
           CAST(CASE WHEN g.d2 * g.d2 * 10000 * g.v_den
                          >= 38415 * 4 * g.v_num
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM arms a CROSS JOIN sig g
    """,
)
def sample_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the two experiment arms on per-user total
    event value (cents lattice): per arm the doubled tie-midrank sum
    and doubled U, the exact rational tie-corrected variance (strings),
    and the alpha = .05 two-sided significance via cross-multiplied
    integer compare — the distribution-free companion to the
    two-proportion test (medians/stochastic dominance instead of
    rates).

    Scale: one event scan collapses map-side onto users; tie groups
    collapse onto distinct metric values; counts-before come from the
    two-phase banded rank (band aggregates + ONE prefix sum over the
    bounded value-band axis + band-partitioned within prefixes) — no
    global row sort at any size. The final test is 2-row algebra."""
    # tie groups: one row per distinct metric with per-arm counts —
    # the memoized relation shared with sample_ks_two_sample (c = c0+c1,
    # identical integer totals)
    groups = arm_metric_groups_df(spark, sf_dir).select(
        "metric",
        (F.col("c0") + F.col("c1")).cast("long").alias("c"),
        "c0",
    )
    # two-phase banded rank: counts-before per metric without a global
    # sort — band totals -> one bounded-axis prefix -> in-band prefix
    banded = groups.withColumn(
        "band", F.expr(f"metric div {MW_BAND_CENTS}")
    )
    band_tot = banded.groupBy("band").agg(F.sum("c").alias("bc"))
    wband = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    band_off = band_tot.select(
        "band", F.coalesce(F.sum("bc").over(wband), F.lit(0)).alias("boff")
    )
    win_in = (
        Window.partitionBy("band")
        .orderBy("metric")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        banded.join(band_off.hint("shuffle_hash"), "band")
        .withColumn(
            "before",
            F.col("boff") + F.coalesce(F.sum("c").over(win_in), F.lit(0)),
        )
        # doubled midrank: 2*before + c + 1
        .withColumn("r2", 2 * F.col("before") + F.col("c") + 1)
        .localCheckpoint(eager=False)
    )
    # ONE aggregate over the ranked relation yields both arms' sufficient
    # statistics AND the tie correction (r11 opt: previously three
    # separate aggregate jobs over the same checkpoint); the identical
    # integer/decimal sums, just computed side by side.
    d38 = "decimal(38,0)"
    c1 = F.col("c") - F.col("c0")
    s = ranked.agg(
        F.sum("c0").cast("long").alias("s_n1"),
        F.sum(F.col("c0") * F.col("r2")).cast("long").alias("s_rs1"),
        F.sum(c1).cast("long").alias("s_n2"),
        F.sum(c1 * F.col("r2")).cast("long").alias("s_rs2"),
        F.sum(F.col("c").cast(d38) * F.col("c") * F.col("c") - F.col("c"))
        .cast(d38)
        .alias("s_t"),
    ).localCheckpoint(eager=False)
    arms = s.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("arm"),
                    F.col("s_n1").alias("n_users"),
                    F.col("s_rs1").alias("rank_sum_x2"),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("arm"),
                    F.col("s_n2").alias("n_users"),
                    F.col("s_rs2").alias("rank_sum_x2"),
                ),
            )
        ).alias("a")
    ).select("a.arm", "a.n_users", "a.rank_sum_x2")
    ties = s.select(F.col("s_t").alias("t"))
    a0 = s.select(F.col("s_n1").alias("n1"), F.col("s_rs1").alias("rs1"))
    a1 = s.select(F.col("s_n2").alias("n2"))
    stat = (
        a0.crossJoin(F.broadcast(a1))
        .crossJoin(F.broadcast(ties))
        .select(
            "n1",
            "n2",
            (F.col("rs1") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
            (F.col("n1").cast(d38) + F.col("n2")).alias("n"),
            "t",
        )
        .select(
            "n1",
            "n2",
            "u1_x2",
            (F.col("u1_x2").cast(d38) - F.col("n1").cast(d38) * F.col("n2")).alias(
                "d2"
            ),
            (
                F.col("n1").cast(d38)
                * F.col("n2")
                * (
                    (F.col("n") + 1) * F.col("n") * (F.col("n") - 1)
                    - F.col("t")
                )
            ).alias("v_num"),
            (F.lit(12).cast(d38) * F.col("n") * (F.col("n") - 1)).alias("v_den"),
        )
    )
    lhs = F.col("d2") * F.col("d2") * 10000 * F.col("v_den")
    rhs = F.lit(38415).cast(d38) * 4 * F.col("v_num")
    sig = stat.select(
        "n1",
        "n2",
        "u1_x2",
        "v_num",
        "v_den",
        # rule-7 trap (non-ANSI backstop; ANSI raises upstream):
        # inputs non-null => NULL leg means decimal overflow
        F.when(
            lhs.isNull() | rhs.isNull(),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "sample_mann_whitney_u: variance comparison exceeded"
                    " decimal(38,0); reduce by gcd or widen limbs"
                ),
            ).cast("boolean"),
        )
        .otherwise(lhs >= rhs)
        .alias("sig"),
    )
    return arms.crossJoin(F.broadcast(sig)).select(
        "arm",
        "n_users",
        "rank_sum_x2",
        F.when(F.col("arm") == 0, F.col("u1_x2"))
        .otherwise(2 * F.col("n1").cast(d38) * F.col("n2") - F.col("u1_x2"))
        .cast("long")
        .alias("u_x2"),
        F.col("v_num").cast("string").alias("var_num"),
        F.col("v_den").cast("string").alias("var_den"),
        F.col("sig").cast("long").alias("significant"),
    )


# --------------------------------------- Kolmogorov-Smirnov test ----
#
# Two-sample KS test between the experiment arms on the same per-user
# value totals the Mann-Whitney test reads — the DISTRIBUTION-SHAPE
# companion (MW detects location shift; KS detects any ECDF gap:
# variance, tails, bimodality). Exact integers end to end: the KS
# statistic D = max |F1(x) - F2(x)| over distinct metric values is held
# as the cross-multiplied gap max|c1*n2 - c2*n1| over n1*n2, and the
# alpha = .05 decision D > c(alpha)*sqrt((n1+n2)/(n1*n2)) squares into
#   gap^2 * 1000 >= 1844 * n1 * n2 * (n1 + n2)
# with c(.05)^2 = 1.358^2 = 1.844 injected as the exact rational
# 1844/1000 — no sqrt, no floats. Cumulative per-arm counts ride the
# SAME two-phase banded rank as sample_mann_whitney_u (no global sort).
KS_C2_NUM, KS_C2_DEN = 1844, 1000


@register(
    "sample_ks_two_sample",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(SUM(CAST(round_even(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS metric
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT metric,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM u GROUP BY metric
    ),
    n AS (
      SELECT CAST(SUM(c0) AS BIGINT) AS n1, CAST(SUM(c1) AS BIGINT) AS n2
      FROM g
    ),
    cum AS (
      SELECT metric,
             SUM(c0) OVER (ORDER BY metric) AS f0,
             SUM(c1) OVER (ORDER BY metric) AS f1
      FROM g
    ),
    gap AS (
      SELECT CAST(MAX(abs(CAST(c.f0 AS HUGEINT) * n.n2
                          - CAST(c.f1 AS HUGEINT) * n.n1)) AS BIGINT) AS d_num
      FROM cum c CROSS JOIN n
    )
    SELECT n.n1, n.n2,
           g.d_num AS d_gap_num,
           CAST(n.n1 AS BIGINT) * n.n2 AS d_gap_den,
           CAST((1000000 * CAST(g.d_num AS HUGEINT)) // (CAST(n.n1 AS HUGEINT) * n.n2)
                AS BIGINT) AS d_ppm,
           CAST(CASE WHEN CAST(g.d_num AS HUGEINT) * g.d_num * {KS_C2_DEN}
                          >= {KS_C2_NUM} * CAST(n.n1 AS HUGEINT) * n.n2 * (n.n1 + n.n2)
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM n CROSS JOIN gap g
    """,
)
def sample_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the experiment arms
    on per-user value totals: the exact rational KS statistic (gap
    numerator over n1*n2, plus its ppm floor) and the alpha = .05
    significance via the squared cross-multiplied comparison — the
    shape-sensitive companion to sample_mann_whitney_u's location test.

    Scale: one event scan collapses map-side onto users, then onto
    distinct metric values with per-arm counts; cumulative per-arm
    counts ride the two-phase banded rank (band aggregates + ONE
    bounded-axis prefix + band-partitioned prefixes — no global row
    sort); the max-gap collapse and the test are 1-row algebra."""
    # (metric, c0, c1) — the memoized relation shared with
    # sample_mann_whitney_u (r11 opt)
    g = arm_metric_groups_df(spark, sf_dir)
    n = g.agg(
        F.sum("c0").cast("long").alias("n1"), F.sum("c1").cast("long").alias("n2")
    )
    banded = g.withColumn("band", F.expr(f"metric div {MW_BAND_CENTS}"))
    band_tot = banded.groupBy("band").agg(
        F.sum("c0").alias("b0"), F.sum("c1").alias("b1")
    )
    wband = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    band_off = band_tot.select(
        "band",
        F.coalesce(F.sum("b0").over(wband), F.lit(0)).alias("o0"),
        F.coalesce(F.sum("b1").over(wband), F.lit(0)).alias("o1"),
    )
    win_in = (
        Window.partitionBy("band")
        .orderBy("metric")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = banded.join(band_off.hint("shuffle_hash"), "band").select(
        (F.col("o0") + F.sum("c0").over(win_in)).alias("f0"),
        (F.col("o1") + F.sum("c1").over(win_in)).alias("f1"),
    )
    d38 = "decimal(38,0)"
    gap = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(
                F.col("f0").cast(d38) * F.col("n2")
                - F.col("f1").cast(d38) * F.col("n1")
            )
        )
        .cast("long")
        .alias("d_num")
    )
    lhs = F.col("d_num").cast(d38) * F.col("d_num") * KS_C2_DEN
    rhs = (
        F.lit(KS_C2_NUM).cast(d38)
        * F.col("n1")
        * F.col("n2")
        * (F.col("n1") + F.col("n2"))
    )
    return (
        n.crossJoin(F.broadcast(gap))
        .select(
            "n1",
            "n2",
            F.col("d_num").alias("d_gap_num"),
            (F.col("n1") * F.col("n2")).cast("long").alias("d_gap_den"),
            F.expr(
                "CAST((CAST(1000000 AS decimal(38,0)) * d_num)"
                " div (CAST(n1 AS decimal(38,0)) * n2) AS BIGINT)"
            ).alias("d_ppm"),
            # rule-7 trap (non-ANSI backstop; ANSI raises upstream):
            # NULL legs can only mean decimal overflow
            F.when(
                lhs.isNull() | rhs.isNull(),
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        "sample_ks_two_sample: significance comparison"
                        " exceeded decimal(38,0); widen limbs"
                    ),
                ).cast("boolean"),
            )
            .otherwise(lhs >= rhs)
            .cast("long")
            .alias("significant"),
        )
    )


# ----------------------------------------------------- k-fold assignment ----
#
# Stratified k-fold cross-validation assignment: within each source
# stratum, docs get the md5-rank total order (the same seedless shuffle
# split_exact_stratified uses) and fold = rank mod K — every fold's
# per-stratum size is within 1 of exact n/K, which no hash-mod split
# can guarantee. The readout is the per-(stratum, fold) balance table
# with an assignment checksum, so the whole mapping is pinned without
# shipping |corpus| rows through the driver compare.
KFOLD_K = 5


@register(
    "split_kfold_assignment",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id
             ) - 1 AS rnk
      FROM documents
    )
    SELECT source, CAST(rnk % {KFOLD_K} AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
    FROM r GROUP BY 1, 2
    """,
)
def split_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified K-fold CV assignment (K = {KFOLD_K}): md5-rank docs
    within each source stratum, fold = rank mod K — exact per-stratum
    balance (fold sizes within 1 doc), deterministic across engines and
    partitionings, no RNG state to persist. Emits the (stratum, fold)
    balance table with doc-count, char mass and a doc_id checksum that
    pins the full assignment.

    Scale: one ranking window per stratum (stratum-bounded total order,
    the split_exact_stratified posture) then a map-side collapse to
    |sources| x K rows. For the bulk 100 TB train partition the
    order-free hash-mod split remains the right tool; k-fold is the
    EVAL-set protocol where exact balance matters."""
    fp = md5_fp(F.col("doc_id").cast("string"))
    ws = Window.partitionBy("source").orderBy("fp", "doc_id")
    r = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars", fp.alias("fp"))
        .withColumn("rnk", F.row_number().over(ws) - 1)
    )
    return (
        r.groupBy(
            "source", (F.col("rnk") % KFOLD_K).cast("long").alias("fold")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("doc_id").cast("long").alias("doc_id_checksum"),
        )
    )


# ------------------------------------------------- 1D EMD source drift ----
#
# Earth-mover's distance between per-source document-length
# distributions — the transport-metric complement to the total-variation
# drift monitor (events_drift_tv): TV counts how much mass differs, EMD
# measures how FAR it must move, so it separates "slightly shifted" from
# "bimodally different" sources that TV scores the same. For 1D
# distributions on an ordered bin axis with unit ground distance the
# closed form is exact: EMD = sum_k |CDF_a(k) - CDF_b(k)|, and with
# counts cross-multiplied to the common denominator n_a*n_b every term
# is an integer — no floats anywhere.
EMD_BIN_WIDTH = 32   # n_chars per bin
EMD_MAX_BIN = 63     # cap: the axis is the bounded 0..63 lattice


@register(
    "source_drift_emd",
    oracle=f"""
    WITH h AS (
      SELECT source,
             LEAST(CAST(n_chars AS BIGINT) // {EMD_BIN_WIDTH}, {EMD_MAX_BIN}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY source),
    axis AS (SELECT CAST(unnest(range(0, {EMD_MAX_BIN} + 1)) AS BIGINT) AS bin),
    cdf AS (
      SELECT s.source, a.bin, n.n,
             CAST(SUM(COALESCE(h.c, 0)) OVER (
               PARTITION BY s.source ORDER BY a.bin) AS BIGINT) AS cum
      FROM (SELECT DISTINCT source FROM h) s
      CROSS JOIN axis a
      JOIN n ON n.source = s.source
      LEFT JOIN h ON h.source = s.source AND h.bin = a.bin
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b,
           CAST(SUM(ABS(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS emd_num,
           CAST(a.n * b.n AS BIGINT) AS emd_den,
           CAST((1000 * SUM(ABS(a.cum * b.n - b.cum * a.n)))
                // (a.n * b.n) AS BIGINT) AS emd_milli_bins
    FROM cdf a JOIN cdf b ON a.bin = b.bin AND a.source < b.source
    GROUP BY a.source, b.source, a.n, b.n
    """,
)
def source_drift_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1D earth-mover's distance between per-source doc-length
    distributions (bin width {EMD_BIN_WIDTH} chars, axis capped at
    {EMD_MAX_BIN}): EMD = sum over bins of |CDF_a - CDF_b|, exact on the
    cross-multiplied integer lattice (emd_num / emd_den, plus the
    milli-bins readout by truncating division). Complements the TV
    drift monitor: TV is flow-insensitive, EMD prices the distance mass
    must travel.

    Scale: ONE doc scan collapses map-side onto (source, bin) — at most
    |sources| x 64 rows; the dense-axis CDF and the pairwise join are
    bounded algebra on that lattice (|sources|^2 x 64 peak), never
    corpus-shaped."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # the histogram is <= |sources| x 64 rows; checkpoint it so the
    # four downstream references (totals, CDF join, both pair sides)
    # share ONE corpus scan instead of re-deriving the subtree
    h = (
        docs.groupBy(
            "source",
            # integer `div`, not float `/`+cast: n_chars is non-negative
            # so both agree here, but DESIGN.md's no-float-intermediates
            # rule keeps every lattice step integral (r9 ADVICE)
            F.least(
                F.expr(f"CAST(n_chars AS BIGINT) div {EMD_BIN_WIDTH}"),
                F.lit(EMD_MAX_BIN).cast("long"),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    n = h.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    axis = spark.range(0, EMD_MAX_BIN + 1).select(
        F.col("id").cast("long").alias("bin")
    )
    cdf = (
        n.crossJoin(F.broadcast(axis))
        .join(h, ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            "n",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(Window.partitionBy("source").orderBy("bin"))
            .cast("long")
            .alias("cum"),
        )
    )
    a = cdf.alias("a")
    b = cdf.alias("b").hint("broadcast")
    return (
        a.join(
            b,
            (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(
            F.sum(
                F.abs(F.col("a.cum") * F.col("b.n") - F.col("b.cum") * F.col("a.n"))
            )
            .cast("long")
            .alias("emd_num")
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "emd_num",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("emd_den"),
            F.expr("(1000 * emd_num) div (n_a * n_b)")
            .cast("long")
            .alias("emd_milli_bins"),
        )
    )


# ---------------------------------------------- preference pair mining ----
#
# Reward-model / DPO data prep: contrastive (chosen, rejected) document
# pairs per source, matched by quality rank — the i-th best doc pairs
# with the i-th worst, strongest contrast first, no doc reused. The
# quality signal is the stopword-density permille — the ONE shared
# STOPWORD_PERMILLE expression (same fluency proxy text_quality_score
# uses; r9 ADVICE: derive it, never copy it). The total order is
# (q DESC, md5-bucket, md5, doc_id): a single mirrored order whose
# reverse gives the bottom ranking as rb = n + 1 - rt, so the pairing
# is a rank equi-join, not a quadratic match.
#
# Ranking is the TWO-PHASE BANDED RANK (r9 VERDICT #4 — the
# sample_balanced_classes posture): q is already a bounded integer
# (0..1000) and docs sub-bucket by md5 into PREF_BUCKETS, so the rank
# decomposes into a bounded (source, q, bucket) prefix histogram plus
# an in-bucket row_number. No window ever spans a whole source — at
# 100 TB with one dominant crawl source, a per-source window is a
# straggler task sorting most of the corpus; here the widest window
# partition is ~|source| / (|distinct q| x PREF_BUCKETS).
PREF_BUCKETS = 256

# the CTE bodies and the pair SELECT are split so the pair-overlap
# audit below can reuse the EXACT pairing definition inside its own
# oracle (one definition, two consumers — the md5_fp rule).
_PREF_CTES = f"""s AS (
      SELECT doc_id, source,
             CAST({STOPWORD_PERMILLE_SQL} AS BIGINT) AS q,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS fp
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, q,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY q DESC, fp % {PREF_BUCKETS}, fp,
                                         doc_id) AS rt,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM s
    )"""
_PREF_SELECT = """SELECT a.source, CAST(a.rt AS BIGINT) AS pair_rank,
           a.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
           a.q AS chosen_permille, b.q AS rejected_permille,
           CAST(a.q - b.q AS BIGINT) AS margin_permille
    FROM r a
    JOIN r b ON b.source = a.source AND b.rt = a.n + 1 - a.rt
    WHERE a.rt * 2 <= a.n AND a.q > b.q"""
_PREF_ORACLE = f"""
    WITH {_PREF_CTES}
    {_PREF_SELECT}
    """


def _pref_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded two-phase ranking relation (doc_id, source, q, n, rt)
    behind train_preference_pairs, UNcheckpointed so tests/test_plans.py
    can pin its window shapes (every row_number partitions on
    (source, q, bkt) — never a whole source)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # ONE text-tokenize pass: d is the narrow (no text column) per-doc
    # scoring relation, and it feeds THREE consumers — the histogram
    # build and both sides of the rank self-join. Unchckpointed, each
    # consumer re-derived the corpus scan WITH the split-text scoring
    # (measured: the 100x sweep exponent was 0.70 from triple
    # tokenization; checkpointed it drops back to the banded-algebra
    # cost).
    d = (
        docs.select(
            "doc_id",
            "source",
            F.expr(f"CAST({STOPWORD_PERMILLE_SPARK} AS BIGINT)").alias("q"),
            md5_fp(F.col("doc_id").cast("string")).alias("fp"),
        )
        .withColumn("bkt", F.col("fp") % PREF_BUCKETS)
        .localCheckpoint(eager=False)
    )
    # phase 1: bounded histogram (<= |sources| x 1001 x PREF_BUCKETS
    # rows) carries cross-band prefix counts and per-source totals
    hist = d.groupBy("source", "q", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wpref = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc(), F.col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = hist.select(
        "source",
        "q",
        "bkt",
        F.coalesce(F.sum("c").over(wpref), F.lit(0)).cast("long").alias("before"),
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias("n"),
    )
    # phase 2: in-bucket row_number — windows partition on
    # (source, q, bkt), never on a whole source. The histogram joins
    # back on its natural key WITHOUT a broadcast hint (r10 ADVICE):
    # |sources| x 1001 x 256 is bounded but NOT driver-sized at
    # many-source scale (10^5 sources -> 10^10 rows); AQE picks
    # broadcast when the measured size allows and a shuffle join on
    # the already-partitioned key otherwise.
    win = Window.partitionBy("source", "q", "bkt").orderBy("fp", "doc_id")
    return d.join(pref, ["source", "q", "bkt"]).select(
        "doc_id",
        "source",
        "q",
        "n",
        (F.col("before") + F.row_number().over(win)).cast("long").alias("rt"),
    )


@shared
def _pref_ranked_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pref_ranked(spark, sf_dir).localCheckpoint(eager=False)


@register(
    "train_preference_pairs",
    oracle=_PREF_ORACLE,
)
def train_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive preference pairs for reward-model/DPO training: per
    source, rank docs by stopword-density permille (exact integers, one
    mirrored total order) and equi-join the i-th best to the i-th worst
    while i <= n/2 and the margin is positive — each doc appears in at
    most one pair, strongest contrasts get the lowest pair_rank, and
    the whole construction is deterministic (no RNG) so both engines
    emit identical pairs. Because the bottom ranking is the exact
    reverse of the top one, the i-th worst is simply rank n + 1 - i:
    ONE ranking serves both sides of the join.

    Scale: one doc scan -> the two-phase banded rank (bounded
    (source, q, md5-bucket) prefix histogram joined back on its key —
    AQE-sized, not force-broadcast — then an in-bucket row_number; no
    per-source corpus-wide sort; r9 VERDICT #4), then a
    keyed self-join on (source, rank) — no quadratic matching, no
    floats. The ranked relation is lazily checkpointed: the self-join
    consumes it twice, and unchckpointed each side re-ran the tokenize
    + rank pipeline (measured 1.9x the whole query at 100x). The
    checkpoint is memoized per (session, sf_dir) so the pair-overlap
    audit rides the SAME ranking instead of re-running it (r11)."""
    r = _pref_ranked_ckpt(spark, sf_dir)
    a = r.alias("a")
    b = r.alias("b")
    return (
        a.join(
            b,
            (F.col("b.source") == F.col("a.source"))
            & (F.col("b.rt") == F.col("a.n") + F.lit(1) - F.col("a.rt")),
        )
        .filter((F.col("a.rt") * 2 <= F.col("a.n")) & (F.col("a.q") > F.col("b.q")))
        .select(
            F.col("a.source").alias("source"),
            F.col("a.rt").cast("long").alias("pair_rank"),
            F.col("a.doc_id").alias("chosen_doc_id"),
            F.col("b.doc_id").alias("rejected_doc_id"),
            F.col("a.q").alias("chosen_permille"),
            F.col("b.q").alias("rejected_permille"),
            (F.col("a.q") - F.col("b.q")).cast("long").alias("margin_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Preference-pair quality audit: for every (chosen, rejected) DPO pair,
# the distinct-unigram Jaccard between the two texts. Near-identical
# pairs are LOW-SIGNAL for preference training (the reward margin is
# attributed to noise, not content); the audit flags them so the pair
# miner's output can be filtered before training. Jaccard rides the
# exact permille lattice: |A ∩ B| via array_intersect of DISTINCT token
# sets, |A ∪ B| = |A| + |B| - |A ∩ B| (the arithmetic identity, so
# neither engine needs a union primitive), 1000x truncating division.
PAIR_OVERLAP_FLAG_PERMILLE = 800  # >= 0.8 Jaccard = low-signal pair


@register(
    "train_pair_overlap",
    oracle=f"""
    WITH {_PREF_CTES},
    pairs AS ({_PREF_SELECT}),
    toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       t -> t <> '')) AS ts
      FROM documents
    )
    SELECT p.source, p.pair_rank, p.chosen_doc_id, p.rejected_doc_id,
           p.margin_permille,
           CAST(len(list_intersect(c.ts, r.ts)) AS BIGINT) AS overlap_tokens,
           CAST(len(c.ts) + len(r.ts) - len(list_intersect(c.ts, r.ts))
                AS BIGINT) AS union_tokens,
           CAST((1000 * len(list_intersect(c.ts, r.ts)))
                // (len(c.ts) + len(r.ts) - len(list_intersect(c.ts, r.ts)))
                AS BIGINT) AS jaccard_permille,
           CAST(CASE WHEN (1000 * len(list_intersect(c.ts, r.ts)))
                          // (len(c.ts) + len(r.ts)
                              - len(list_intersect(c.ts, r.ts)))
                          >= {PAIR_OVERLAP_FLAG_PERMILLE}
                     THEN 1 ELSE 0 END AS BIGINT) AS low_signal
    FROM pairs p
    JOIN toks c ON c.doc_id = p.chosen_doc_id
    JOIN toks r ON r.doc_id = p.rejected_doc_id
    """,
)
def train_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the mined DPO pairs: distinct-unigram Jaccard (permille)
    between each pair's chosen and rejected texts, plus the low_signal
    flag at >= {PAIR_OVERLAP_FLAG_PERMILLE} permille — the filter a
    training pipeline applies before handing pairs to the trainer.

    Scale shape: the pair relation is <= corpus/2 rows of ids; the two
    doc_id equi-joins against the token-set projection shuffle on the
    SAME key the pair miner already produced, and the set algebra
    (array_intersect of distinct unigrams + the |A|+|B|-|A∩B| union
    identity) is per-row JVM columnar work — no pairwise blowup, no
    Python. Exactness: token sets are DISTINCT arrays, so intersection
    sizes are integers and the permille is one truncating division."""
    pairs = train_preference_pairs(spark, sf_dir)
    toks = fan_out(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id",
        F.expr(
            "array_distinct(filter(split(text, ' '), t -> t <> ''))"
        ).alias("ts"),
    )
    c = toks.alias("c")
    r = toks.alias("r")
    ov = "size(array_intersect(c.ts, r.ts))"
    un = f"size(c.ts) + size(r.ts) - {ov}"
    return (
        pairs.alias("p")
        .join(c, F.col("c.doc_id") == F.col("p.chosen_doc_id"))
        .join(r, F.col("r.doc_id") == F.col("p.rejected_doc_id"))
        .select(
            "p.source",
            "p.pair_rank",
            "p.chosen_doc_id",
            "p.rejected_doc_id",
            "p.margin_permille",
            F.expr(f"CAST({ov} AS BIGINT)").alias("overlap_tokens"),
            F.expr(f"CAST({un} AS BIGINT)").alias("union_tokens"),
            F.expr(f"CAST((1000 * {ov}) div ({un}) AS BIGINT)").alias(
                "jaccard_permille"
            ),
            F.expr(
                f"CAST(CASE WHEN (1000 * {ov}) div ({un})"
                f" >= {PAIR_OVERLAP_FLAG_PERMILLE} THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("low_signal"),
        )
    )


# ---------------------------------------------------------------------------
# pass@k (Chen et al. 2021, arXiv:2107.03374 §2.1): the standard
# code/eval readout for "given n samples per task of which c passed,
# what is the probability at least one of a random k-subset passes" —
# the UNBIASED estimator 1 - C(n-c,k)/C(n,k). On the integer lattice
# the binomial ratio is a ratio of falling factorials,
#     C(n-c,k)/C(n,k) = prod_{i=0..k-1} (n-c-i) / prod_{i=0..k-1} (n-i),
# and with k fixed the products unroll to k-term expressions — exact
# in DECIMAL(38,0)/HUGEINT for n up to ~2.5M samples/task at k=5
# (1e6 * n^k <= 1e38), far past any real sampling budget; past that
# ANSI/HUGEINT raise loudly. When n-c < k the numerator product
# contains the literal factor 0 (i = n-c), so pass@k = 1 exactly with
# no branch. The readout floors 1e6*(fden-fnum)/fden — the floor of
# the true probability in ppm.
#
# Fixture stand-in: a real pipeline feeds an eval table of
# (task, sample, passed); here tasks are users in `events`, a sample
# is an event, and "passed" is the purchase event type — the estimator
# algebra, grouping shape and lattice are the operator.
PASS_AT_K = 5


def _falling_product(expr: str, k: int) -> str:
    """(expr)*(expr-1)*...*(expr-k+1), the k-term falling factorial."""
    return " * ".join(f"({expr} - {i})" for i in range(k))


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH t AS (
      SELECT user_id AS task_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM events GROUP BY user_id
      HAVING COUNT(*) >= {PASS_AT_K}
    ),
    f AS (
      SELECT task_id, n, c,
             {_falling_product('CAST(n - c AS HUGEINT)', PASS_AT_K)} AS fnum,
             {_falling_product('CAST(n AS HUGEINT)', PASS_AT_K)} AS fden
      FROM t
    )
    SELECT task_id, n AS n_samples, c AS n_correct,
           CAST((1000000 * c) // n AS BIGINT) AS pass1_ppm,
           CAST((1000000 * (fden - fnum)) // fden AS BIGINT) AS pass_at_k_ppm
    FROM f
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-task pass@1 and pass@k={PASS_AT_K} in exact ppm: the
    unbiased estimator 1 - C(n-c,k)/C(n,k) as a ratio of unrolled
    falling factorials on the DECIMAL(38,0) lattice (see the constant
    block above for the exactness window and the n-c < k zero-factor
    property).

    Scale shape: ONE events scan collapses map-side to per-task
    (n, c) — the only shuffle is the task-keyed partial aggregate, and
    everything after is per-row O(k) codegen algebra. No window, no
    join, no Python."""
    dec = "DECIMAL(38,0)"
    ev = load_table(spark, sf_dir, "events")
    t = (
        ev.groupBy(F.col("user_id").alias("task_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("c"),
        )
        .filter(F.col("n") >= PASS_AT_K)
    )
    fnum = _falling_product(f"CAST(n - c AS {dec})", PASS_AT_K)
    fden = _falling_product(f"CAST(n AS {dec})", PASS_AT_K)
    return t.select(
        "task_id",
        F.col("n").alias("n_samples"),
        F.col("c").alias("n_correct"),
        F.expr("CAST((1000000 * c) div n AS BIGINT)").alias("pass1_ppm"),
        F.expr(
            f"CAST((CAST(1000000 AS {dec}) * (({fden}) - ({fnum})))"
            f" div ({fden}) AS BIGINT)"
        ).alias("pass_at_k_ppm"),
    )


# ---------------------------------------------------------------------------
# GRPO group-relative advantage (Shao et al. 2024, arXiv:2402.03300
# §4.1): per prompt group, A_i = (r_i - mean(r)) / std_pop(r) — the
# whitened reward GRPO feeds back in place of a learned value
# baseline. On the integer lattice (rewards in centi units):
#     adv_num = n*r_i - sum(r)           (n x the mean-deviation)
#     var_num = n*sum(r^2) - sum(r)^2    (n^2 x the population var)
# and A_i = adv_num / sqrt(var_num) exactly. The integer sqrt rides
# floor(sqrt(double)) with a +-1 correction, then a LOUD exactness
# check (s^2 <= var_num < (s+1)^2) — if the double seed were ever off
# by 2 (var_num >> 2^60, beyond any real group), both engines RAISE
# rather than emit a silently-wrong floor (rule-7). The milli readout
# divides on sign-split magnitudes so Spark's truncate-toward-zero and
# DuckDB's floor division agree on negative advantages; zero-variance
# groups emit 0 (the GRPO convention for degenerate groups).
#
# Fixture stand-in: groups are users in `events`, the reward is the
# event value on the exact centi lattice (CAST(ROUND(value*100)), the
# events_trend_regression precedent); a real pipeline feeds
# (prompt_id, sample_id, reward) rollout tables.
GRPO_MIN_GROUP = 2


@register(
    "train_grpo_advantage",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) AS HUGEINT) AS s2
      FROM events GROUP BY user_id
      HAVING COUNT(*) >= {GRPO_MIN_GROUP}
    ),
    v AS (
      SELECT user_id, n, s1,
             n * s2 - CAST(s1 AS HUGEINT) * s1 AS var_num
      FROM g
    ),
    s AS (
      SELECT user_id, n, s1, var_num,
             CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE))) AS HUGEINT) AS s0
      FROM v
    ),
    sd AS (
      SELECT user_id, n, s1, var_num,
             s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= var_num THEN 1 ELSE 0 END)
                - (CASE WHEN s0 * s0 > var_num THEN 1 ELSE 0 END) AS sq
      FROM s
    ),
    ok AS (
      SELECT user_id, n, s1, var_num,
             CASE WHEN sq * sq > var_num OR (sq + 1) * (sq + 1) <= var_num
                  THEN CAST(error('train_grpo_advantage: isqrt seed off by >1') AS HUGEINT)
                  ELSE sq END AS sq
      FROM sd
    )
    SELECT e.event_id, e.user_id AS group_id,
           CAST(ROUND(e.value * 100) AS BIGINT) AS reward_centi,
           CAST(ok.n * CAST(ROUND(e.value * 100) AS BIGINT) - ok.s1
                AS BIGINT) AS adv_num_centi,
           CAST(ok.sq AS BIGINT) AS group_sd_floor_centi,
           CAST(CASE WHEN ok.var_num = 0 THEN 0
                     ELSE (CASE WHEN ok.n * CAST(ROUND(e.value * 100) AS BIGINT)
                                     - ok.s1 < 0 THEN -1 ELSE 1 END)
                          * ((1000 * ABS(ok.n * CAST(ROUND(e.value * 100) AS BIGINT)
                                         - ok.s1)) // ok.sq)
                END AS BIGINT) AS adv_milli
    FROM events e JOIN ok ON e.user_id = ok.user_id
    """,
)
def train_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sample GRPO advantage on the exact centi lattice: group
    mean-deviation numerator, n^2-scaled population variance, exact
    integer sqrt (float seed + correction + loud exactness check), and
    the sign-split milli readout (see the constant block for the
    derivation and both-engine division semantics).

    Scale shape: the group-keyed (n, sum, sum-of-squares) partial
    aggregate collapses map-side to |groups| rows, then the sample
    relation equi-joins back on the SAME group key the aggregate
    already shuffled on — at 100 TB the join co-partitions with the
    aggregate output and AQE broadcasts the group relation when it
    fits (the columnar re-scan of the 3 pruned reward columns is
    cheaper than checkpointing the corpus-sized sample relation). The
    per-sample algebra is pure codegen; no window, no Python."""
    dec = "DECIMAL(38,0)"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("r"),
    )
    g = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r").cast("long").alias("s1"),
            F.expr(f"SUM(CAST(r AS {dec}) * r)").alias("s2"),
        )
        .filter(F.col("n") >= GRPO_MIN_GROUP)
        .withColumn("var_num", F.expr(f"n * s2 - CAST(s1 AS {dec}) * s1"))
        .withColumn(
            "s0",
            F.expr(f"CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE))) AS {dec})"),
        )
        .withColumn(
            "sq",
            F.expr(
                "s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= var_num THEN 1 ELSE 0 END)"
                " - (CASE WHEN s0 * s0 > var_num THEN 1 ELSE 0 END)"
            ),
        )
        .withColumn(
            "sq",
            F.expr(
                "CASE WHEN sq * sq > var_num OR (sq + 1) * (sq + 1) <= var_num"
                " THEN raise_error('train_grpo_advantage: isqrt seed off by >1')"
                " ELSE sq END"
            ),
        )
    )
    adv = "n * r - s1"
    # shuffle_hash with g as build side: both sides hash-partition on
    # user_id (g's agg exchange is reused) and each task builds only
    # its slice of the group relation. Unhinted, the static planner
    # broadcast the pruned CORPUS side whenever its file estimate sat
    # under the 64MB threshold (measured at the sf10 sweep: a 10M-row
    # broadcast build; at 100 TB an OOM) — the 100x-sweep lesson.
    return ev.join(g.hint("shuffle_hash"), "user_id").select(
        "event_id",
        F.col("user_id").alias("group_id"),
        F.col("r").alias("reward_centi"),
        F.expr(f"CAST({adv} AS BIGINT)").alias("adv_num_centi"),
        F.expr("CAST(sq AS BIGINT)").alias("group_sd_floor_centi"),
        F.expr(
            f"CAST(CASE WHEN var_num = 0 THEN 0"
            f" ELSE (CASE WHEN {adv} < 0 THEN -1 ELSE 1 END)"
            f" * ((1000 * ABS({adv})) div sq) END AS BIGINT)"
        ).alias("adv_milli"),
    )


# ---------------------------------------------------------------------------
# Best-of-n yield curve (the sampling-budget readout behind
# rejection-sampling / BoN RLHF pipelines, cf. Nakano et al. 2021
# arXiv:2112.09332 App. B): given n scored samples per task, what is
# the EXPECTED MAXIMUM score of a uniformly-random k-subset — i.e. how
# much does each extra sample buy? Exact combinatorics: with scores
# sorted ascending, the number of k-subsets whose maximum is the i-th
# smallest sample is C(i-1, k-1), so
#     E[max of k] = sum_i s_i * C(i-1, k-1) / C(n, k).
# Binomials ride the falling-factorial lattice (a product of k-1
# consecutive integers is divisible by (k-1)!, so the division is
# EXACT — computed in DECIMAL(38,0)/HUGEINT, within the lattice to
# n ~ 2e5 samples/task at k=8, loud raise past it). Tasks with n < k
# emit NULL for that k (the readout is undefined, and NULL here is a
# documented contract value, not an error swallow — both engines agree
# deterministically). best_of_1 is the mean — the sanity anchor; the
# curve is non-decreasing in k (pinned in tests).
#
# Fixture stand-in: tasks are users in `events`, the sample score is
# the event value on the centi lattice; a real pipeline feeds
# (task, sample, reward) rollout tables — same shape.
BEST_OF_KS = (1, 2, 4, 8)


def _comb_dec(iexpr: str, r: int, cast: str, div: str = "/") -> str:
    """C(iexpr, r) exactly: falling-factorial product of r consecutive
    terms over r! (the division is exact — r consecutive integers are
    divisible by r!). r = 0 -> 1; the product contains a literal 0
    factor whenever iexpr < r, so out-of-range binomials are 0 with no
    branch. div: Spark decimal '/' is exact on an exactly-divisible
    integer quotient (scale-6 repr of an integer); DuckDB must use '//'
    because its '/' on HUGEINT is FLOAT division (measured off-by-one
    in the sums at sf0.01)."""
    import math as _math

    if r == 0:
        return f"CAST(1 AS {cast})"
    prod = " * ".join(f"(CAST({iexpr} AS {cast}) - {j})" for j in range(r))
    return f"(({prod}) {div} {_math.factorial(r)})"


def _best_of_oracle() -> str:
    cols = []
    for k in BEST_OF_KS:
        num = f"SUM(s * {_comb_dec('rn - 1', k - 1, 'HUGEINT', '//')})"
        den = _comb_dec("MAX(n)", k, "HUGEINT", "//")
        cols.append(
            f"CAST(CASE WHEN MAX(n) >= {k} THEN CAST({num} AS HUGEINT) // {den}"
            f" ELSE NULL END AS BIGINT) AS best_of_{k}_centi"
        )
    return f"""
    WITH r AS (
      SELECT user_id AS task_id,
             CAST(ROUND(value * 100) AS BIGINT) AS s,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ROUND(value * 100) AS BIGINT),
                                         event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT task_id, CAST(MAX(n) AS BIGINT) AS n_samples, {", ".join(cols)}
    FROM r GROUP BY task_id
    """


@register("eval_best_of_n_curve", oracle=_best_of_oracle())
def eval_best_of_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-task expected-maximum score of a random k-subset for
    k = {1, 2, 4, 8}, exactly (see the constant block: subset-maximum
    counting via C(i-1, k-1), falling-factorial binomials, NULL
    contract for n < k).

    Scale shape: one events scan -> per-task ranking window (the same
    task-keyed partition the aggregate shuffles on — no corpus-wide
    sort) -> one task-keyed aggregate with k-term codegen products per
    row. Bounded output: |tasks| rows x len(BEST_OF_KS) columns."""
    dec = "DECIMAL(38,0)"
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("task_id"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("task_id").orderBy("s", "event_id")
    wn = Window.partitionBy("task_id")
    r = ev.select(
        "task_id",
        "s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_samples")]
    for k in BEST_OF_KS:
        num = f"SUM(s * {_comb_dec('rn - 1', k - 1, dec)})"
        den = _comb_dec("MAX(n)", k, dec)
        aggs.append(
            F.expr(
                f"CAST(CASE WHEN MAX(n) >= {k} THEN CAST({num} AS {dec})"
                f" div {den} ELSE NULL END AS BIGINT)"
            ).alias(f"best_of_{k}_centi")
        )
    return r.groupBy("task_id").agg(*aggs)


# ---------------------------------------------------------------------------
# Source-quality tournament: rank corpus sources by PAIRWISE STOCHASTIC
# DOMINANCE of their per-doc quality scores — "if I draw one doc from
# source A and one from B, how often does A's score win?" — then the
# Copeland score (majority wins minus losses over all opponents), the
# classic tournament ranking that needs no iterative fitting. Because
# the quality score is the bounded stopword permille (0..1000), the
# |A| x |B| comparisons collapse onto the q-lattice:
#     wins(A,B)  = sum_q histA(q) * cdfB(q-1)        (strict wins)
#     ties(A,B)  = sum_q histA(q) * histB(q)
#     win2       = 2*wins + ties      (doubled lattice, exact halves)
# so the whole tournament is |sources|^2 x 1001 bounded algebra after
# ONE corpus scan — no doc-pair join exists at any scale. The dense
# per-source lattice (grid join) guarantees every histogram row finds
# its opponent's cumulative row.
SQT_Q_MAX = 1000  # stopword permille lattice bound


def _sqt_oracle() -> str:
    return f"""
    WITH h AS (
      SELECT source, CAST({STOPWORD_PERMILLE_SQL} AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, g.q, COALESCE(h.c, 0) AS c
      FROM (SELECT DISTINCT source FROM h) s
      CROSS JOIN (SELECT UNNEST(generate_series(0, {SQT_Q_MAX})) AS q) g
      LEFT JOIN h ON h.source = s.source AND h.q = g.q
    ),
    cdf AS (
      SELECT source, q, c,
             COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY q
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cdf_lt,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM grid
    ),
    pair AS (
      SELECT a.source AS challenger, b.source AS opponent,
             CAST(MAX(a.n) AS HUGEINT) * MAX(b.n) AS comparisons,
             SUM(CAST(a.c AS HUGEINT) * (2 * b.cdf_lt + b.c)) AS win2
      FROM (SELECT h.source, h.q, h.c, cdf.n
            FROM h JOIN cdf ON cdf.source = h.source AND cdf.q = h.q) a
      JOIN cdf b ON b.q = a.q AND b.source <> a.source
      GROUP BY 1, 2
    )
    SELECT challenger, opponent,
           CAST(comparisons AS BIGINT) AS comparisons,
           CAST(win2 AS BIGINT) AS win2,
           CAST((1000 * win2) // (2 * comparisons) AS BIGINT) AS win_permille,
           CAST(SUM(CASE WHEN win2 > comparisons THEN 1
                         WHEN win2 < comparisons THEN -1 ELSE 0 END)
                OVER (PARTITION BY challenger) AS BIGINT) AS copeland
    FROM pair
    """


@register("source_quality_tournament", oracle=_sqt_oracle())
def source_quality_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise stochastic-dominance win rates between sources on the
    bounded quality lattice, with the Copeland tournament score (see
    the constant block for the histogram-CDF collapse that replaces
    any doc-pair join).

    Scale shape: ONE corpus scan -> (source, q) histogram (map-side
    combined, <= |sources| x 1001 rows); the dense grid, CDF windows,
    pair join and Copeland window all run on that bounded lattice.
    Exactness: the doubled win count keeps tie-halves integral; the
    permille readout is one truncating division on nonneg values."""
    from snackfs_spark.operators.textstats import doc_quality_df

    dec = "DECIMAL(38,0)"
    h = (
        doc_quality_df(spark, sf_dir)
        .select("source", "q")
        .groupBy("source", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    grid = (
        h.select("source")
        .distinct()
        .crossJoin(
            spark.range(SQT_Q_MAX + 1).select(F.col("id").cast("long").alias("q"))
        )
        .join(h, ["source", "q"], "left")
        .select("source", "q", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    wq = (
        Window.partitionBy("source")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cdf = grid.select(
        "source",
        "q",
        "c",
        F.coalesce(F.sum("c").over(wq), F.lit(0)).cast("long").alias("cdf_lt"),
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias("n"),
    )
    a = h.join(
        cdf.select("source", "q", F.col("n").alias("n_a")), ["source", "q"]
    ).alias("a")
    b = cdf.alias("b")
    pair = (
        a.join(b, (F.expr("a.q = b.q")) & (F.expr("a.source <> b.source")))
        .groupBy(
            F.col("a.source").alias("challenger"),
            F.col("b.source").alias("opponent"),
        )
        .agg(
            F.expr(f"CAST(MAX(a.n_a) AS {dec}) * MAX(b.n)").alias("comparisons"),
            F.expr(
                f"SUM(CAST(a.c AS {dec}) * (2 * b.cdf_lt + b.c))"
            ).alias("win2"),
        )
    )
    wc = Window.partitionBy("challenger")
    return pair.select(
        "challenger",
        "opponent",
        F.expr("CAST(comparisons AS BIGINT)").alias("comparisons"),
        F.expr("CAST(win2 AS BIGINT)").alias("win2"),
        F.expr("CAST((1000 * win2) div (2 * comparisons) AS BIGINT)").alias(
            "win_permille"
        ),
        F.sum(
            F.when(F.col("win2") > F.col("comparisons"), 1)
            .when(F.col("win2") < F.col("comparisons"), -1)
            .otherwise(0)
        )
        .over(wc)
        .cast("long")
        .alias("copeland"),
    )
