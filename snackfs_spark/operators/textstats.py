"""Text-analysis operators (SURVEY.md §2.C / BASELINE.md): language-ID
heuristic, quality scoring, token counting, document fingerprinting —
the per-document scoring battery of a training-data pipeline.

Everything is built-in column expressions (JVM-side, codegen) — a
per-document map with no shuffle at all; at 100 TB these run at scan
speed. The one Pandas-UDF variant lives in operators/multimodal.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.functions import (
    STOPWORD_PERMILLE_SPARK,
    STOPWORD_PERMILLE_SQL,
    md5_bucket,
)
from snackfs_spark.memo import shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import fan_out, load_table

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "with", "and"),
    "es": ("el", "la", "con", "los"),
    "fr": ("le", "la", "avec", "les"),
    "de": ("der", "die", "mit", "und"),
    "zh": ("的", "和", "与", "在"),
}


def _marker_count_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), t -> t IN ({toks})))"
    )


def _marker_count_spark(lang: str) -> F.Column:
    toks = [F.lit(t) for t in LANG_MARKERS[lang]]
    return F.size(
        F.filter(
            F.split(F.col("text"), " "),
            lambda t: t.isin(*LANG_MARKERS[lang]),
        )
    )


@register(
    "text_lang_id",
    oracle=(
        "SELECT doc_id, lang, CASE "
        + " ".join(
            f"WHEN {_marker_count_sql(lang)} >= greatest("
            + ", ".join(_marker_count_sql(o) for o in LANG_MARKERS)
            + f") THEN '{lang}'"
            for lang in LANG_MARKERS
        )
        + " ELSE 'und' END AS predicted_lang FROM documents"
    ),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax over per-language stopword-marker
    counts (first language in priority order wins ties)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = {lang: _marker_count_spark(lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # Build the CASE in reverse so earlier languages win ties, matching
    # the SQL's first-match-wins WHEN ordering.
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(counts[lang] >= best, F.lit(lang)).otherwise(pred)
    return docs.select("doc_id", "lang", pred.alias("predicted_lang"))


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'and', 'with', 'of', 'in'))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 500
                     AND len(string_split(text, ' ')) >= 20
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, token count, average token length,
    stopword ratio, and a pass/fail gate — the C4/Gopher-style filter
    battery as pure column arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "and", "with", "of", "in"))
    )
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tokens).alias("avg_token_len"),
        (stop.cast("double") / n_tokens).alias("stopword_ratio"),
        F.when(
            F.col("n_chars").between(100, 500) & (n_tokens >= 20), 1
        ).otherwise(0).alias("quality_pass"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS number_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex split into
    word/number runs (regexp_count is codegen'd JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("long").alias("number_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(SUM((i + 1) * ascii(substr(text, CAST(i + 1 AS INT), 1))) % 2147483647
                AS BIGINT) AS fingerprint
    FROM (SELECT doc_id, text, unnest(range(0, n_chars)) AS i FROM documents)
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: position-weighted character hash (the
    order-sensitive rolling-hash family, but expressible as a plain sum
    so it aggregates map-side and stays deterministic)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", "(?!^)")).alias("i", "ch"),
        )
        .groupBy("doc_id")
        .agg(
            (F.sum((F.col("i") + 1) * F.ascii("ch")) % 2147483647).alias("fingerprint")
        )
    )


@register(
    "text_vocab_topk",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 200
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top 200.
    The canonical first step of tokenizer training. explode → groupBy
    collapses map-side (vocab cardinality << token count), and the
    top-k is TakeOrderedAndProject — per-partition heaps, never a
    global sort. Tie-break on token keeps the cut deterministic."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(200)
    )


@register(
    "bpe_pair_counts",
    oracle="""
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT substr(word, i + 1, 2) AS pair
      FROM (
        SELECT word, unnest(range(0, greatest(len(word) - 1, 0))) AS i
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) >= 2
      )
    )
    GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT 100
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-wide frequencies
    of adjacent symbol pairs (here: character bigrams within words) —
    each merge round of BPE picks the top pair, re-segments, recounts.
    Pair cardinality is alphabet², so the groupBy collapses map-side and
    the cut is per-partition heaps (TakeOrderedAndProject); the explode
    runs at scan parallelism. Tie-break on pair keeps the top-100 cut
    deterministic."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(0, length(word) - 2), "
                "i -> substring(word, i + 1, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair"))
        .limit(100)
    )


@register(
    "text_redact",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_hash,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redactions
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content scrubbing: replace digit runs with a placeholder (the
    PII-redaction shape: same plan with email/phone/ID patterns) and
    count replacements. Pure per-row projection — no shuffle, streams
    through whole-stage codegen; the hash of the redacted text lets the
    oracle check the full rewrite without shipping it."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[0-9]+", "<NUM>")).alias("redacted_hash"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("long").alias("n_redactions"),
    )


@register(
    "text_repetition",
    oracle="""
    SELECT doc_id, n_tokens, n_distinct_tokens,
           CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS distinct_token_ratio,
           n_shingles, n_distinct_shingles,
           CASE WHEN n_shingles > 0
                THEN 1.0 - CAST(n_distinct_shingles AS DOUBLE) / n_shingles
                ELSE 0.0 END AS dup_shingle_ratio
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct_tokens,
             CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT)
               AS n_shingles,
             CAST(len(list_distinct(list_transform(
                    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
                    i -> array_to_string(
                           list_slice(string_split(text, ' '), i + 1, i + 3), ' '))))
                  AS BIGINT) AS n_distinct_shingles
      FROM documents
    )
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    distinct-token ratio and duplicate-3-gram fraction per document.
    Highly repetitive documents (boilerplate, keyword stuffing, decoding
    loops) score high dup_shingle_ratio and get filtered before
    training. Everything — including the shingle construction — is a
    higher-order-function projection: zero shuffles, scan-speed at
    100 TB (contrast with dedup.shingles_df, which explodes because its
    consumers aggregate ACROSS documents; here the stats stay per-doc)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # Stage the token array once: each downstream stat references the
    # materialized `toks` column instead of re-splitting text per
    # expression (codegen does not CSE across higher-order functions).
    staged = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh_arr = (
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), "
        "i -> array_join(slice(toks, i + 1, 3), ' ')) "
        "ELSE array() END"
    )
    n_tokens = F.expr("size(toks)").cast("long")
    n_distinct = F.expr("size(array_distinct(toks))").cast("long")
    n_sh = F.expr("greatest(size(toks) - 2, 0)").cast("long")
    n_dsh = F.expr(f"size(array_distinct({sh_arr}))").cast("long")
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        (n_distinct.cast("double") / n_tokens).alias("distinct_token_ratio"),
        n_sh.alias("n_shingles"),
        n_dsh.alias("n_distinct_shingles"),
        F.when(n_sh > 0, F.lit(1.0) - n_dsh.cast("double") / n_sh)
        .otherwise(F.lit(0.0))
        .alias("dup_shingle_ratio"),
    )


@register(
    "text_diversity",
    oracle="""
    WITH tc AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS type_token_ratio,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sum_cnt2,
           1.0 - CAST(SUM(cnt * cnt) AS DOUBLE) / (SUM(cnt) * SUM(cnt))
             AS simpson_diversity
    FROM tc GROUP BY doc_id
    """,
)
def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: type-token ratio and Simpson
    diversity (1 - Σp²) per document — the entropy-family gibberish /
    template detector, formulated WITHOUT logs so the score is exact
    rational arithmetic (Σcnt² is an integer; one double division at the
    end) and hash-identical across engines and partitionings. Two
    map-combinable aggregations: (doc, token) counts collapse map-side,
    then a per-doc rollup — no sort, no window, scan-bound at 100 TB."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt")
    return tc.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        (F.count(F.lit(1)).cast("double") / n).alias("type_token_ratio"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sum_cnt2"),
        (
            F.lit(1.0)
            - F.sum(F.col("cnt") * F.col("cnt")).cast("double") / (n * n)
        ).alias("simpson_diversity"),
    )


@register(
    "text_profile",
    oracle=(
        """
    WITH fp AS (
      SELECT doc_id,
             CAST(SUM((i + 1) * ascii(substr(text, CAST(i + 1 AS INT), 1))) % 2147483647
                  AS BIGINT) AS fingerprint
      FROM (SELECT doc_id, text, unnest(range(0, n_chars)) AS i FROM documents)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE """
        + " ".join(
            f"WHEN {_marker_count_sql(lang)} >= greatest("
            + ", ".join(_marker_count_sql(o) for o in LANG_MARKERS)
            + f") THEN '{lang}'"
            for lang in LANG_MARKERS
        )
        + """ ELSE 'und' END AS predicted_lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'and', 'with', 'of', 'in'))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 500
                     AND len(string_split(text, ' ')) >= 20
                THEN 1 ELSE 0 END AS quality_pass,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS number_tokens,
           COALESCE(f.fingerprint, 0) AS fingerprint
    FROM documents d LEFT JOIN fp f ON f.doc_id = d.doc_id
    """
    ),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consolidated per-document text-scoring profile: language-ID,
    quality gate, token counts and content fingerprint in ONE pass — the
    shape a real pipeline runs (one scan, all scores). Everything is a
    JVM column expression; the fingerprint is a higher-order-function
    fold (zip_with + aggregate), so the whole profile is a pure
    projection with ZERO shuffles — scan-speed at 100 TB.

    The single-purpose variants (text_lang_id, text_quality_score,
    text_token_count, text_fingerprint) stay registered individually;
    this query is the one-scan composition of the four."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split(F.col("text"), " ")
    counts = {lang: _marker_count_spark(lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(counts[lang] >= best, F.lit(lang)).otherwise(pred)
    n_tokens = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "and", "with", "of", "in"))
    )
    # Positional fold instead of explode+groupBy: fingerprint as a pure
    # projection. The sequence is sized to the split array (Spark's split
    # emits a trailing '' whose ascii is 0, so the extra term is inert;
    # sizing by length(text) would make zip_with null-pad). Guarded so
    # empty docs yield 0, matching the oracle's COALESCE.
    fingerprint = F.when(
        F.length("text") > 0,
        F.expr(
            "aggregate(zip_with(split(text, '(?!^)'), "
            "sequence(1L, bigint(size(split(text, '(?!^)')))), "
            "(c, i) -> i * ascii(c)), "
            "0L, (a, x) -> a + x) % 2147483647"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return docs.select(
        "doc_id",
        pred.alias("predicted_lang"),
        n_tokens.cast("long").alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tokens).alias("avg_token_len"),
        (stop.cast("double") / n_tokens).alias("stopword_ratio"),
        F.when(F.col("n_chars").between(100, 500) & (n_tokens >= 20), 1)
        .otherwise(0)
        .alias("quality_pass"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("long").alias("number_tokens"),
        fingerprint.alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Pandas-UDF demonstrations (Arrow-vectorized Python paths). UDFs are the
# slow path at scale — these exist to pin the PLUMBING (Arrow batches,
# numpy vectorization, grouped-map semantics) with oracle-exact integer
# arithmetic, for the cases where JVM built-ins genuinely cannot express
# the computation (model scoring, custom feature extraction).


@register(
    "text_fingerprint_pandas",
    oracle="""
    SELECT doc_id,
           CAST(SUM((i + 1) * ascii(substr(text, CAST(i + 1 AS INT), 1))) % 2147483647
                AS BIGINT) AS fingerprint
    FROM (SELECT doc_id, text, unnest(range(0, n_chars)) AS i FROM documents)
    GROUP BY doc_id
    """,
)
def text_fingerprint_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same position-weighted fingerprint as `text_fingerprint`, but
    computed in a SCALAR @pandas_udf (Arrow batch in, numpy int64 out) —
    the vectorized-Python path for computations built-ins can't express.
    Same oracle as the JVM version: the two implementations must agree
    exactly, which is the real test of the Arrow plumbing."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            codes = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
            # ascii corpus: byte == codepoint; positions are 1-based
            out.append(int((codes * np.arange(1, len(codes) + 1)).sum() % 2147483647))
        return pd.Series(out, dtype="int64")

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    return docs.select("doc_id", fp("text").alias("fingerprint"))


@register(
    "user_event_gaps_grouped",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                 // 1000000 AS gap_s
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(SUM(gap_s) AS BIGINT) AS total_span_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def user_event_gaps_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via applyInPandas (grouped
    map): each user's events arrive as ONE pandas DataFrame, sorted and
    differenced in numpy — the grouped-map shape for per-entity
    sequential logic (sessionizers, trajectory features) that window
    functions can't express. Integer-seconds arithmetic keeps it
    oracle-exact; the equivalent window-function form is the oracle."""
    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        secs = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        if len(secs) < 2:
            return pd.DataFrame(
                columns=["user_id", "n_events", "max_gap_s", "total_span_s"]
            ).astype({"user_id": "int64", "n_events": "int64",
                      "max_gap_s": "int64", "total_span_s": "int64"})
        d = secs[1:] - secs[:-1]
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(secs)],
                "max_gap_s": [int(d.max())],
                "total_span_s": [int(d.sum())],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_id", "ts").groupBy("user_id").applyInPandas(
        gaps,
        schema="user_id long, n_events long, max_gap_s long, total_span_s long",
    )


# ---- cross-document boilerplate (RefinedWeb/C4-style line dedup analog) ----

COMMON_MIN_DOCS = 3   # a shingle seen in >= this many docs is boilerplate
COMMON_TOP_K = 20

# Distinct (doc, shingle) pairs + the corpus-common subset, as DuckDB CTEs
# (reuses the dedup pipeline's shingle definition, dedup.py SHINGLES_CTE).
_COMMON_CTE = """, common AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM shingles GROUP BY shingle
  HAVING COUNT(*) >= {min_docs}
)"""


def _common_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-common shingles: one shuffle on the shingle key with
    map-side partial counting ((doc,shingle) pairs are pre-distinct, so
    counts are doc frequencies). The output cardinality is the number of
    cross-document shingles — boilerplate-sized, not corpus-sized."""
    from snackfs_spark.operators.dedup import distinct_shingles_df

    return (
        distinct_shingles_df(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= COMMON_MIN_DOCS)
    )


def _boilerplate_oracle() -> str:
    from snackfs_spark.operators.dedup import SHINGLES_CTE

    return (
        "WITH " + SHINGLES_CTE
        + _COMMON_CTE.format(min_docs=COMMON_MIN_DOCS)
        + f"""
    , stats AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles,
             CAST(SUM(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_common
      FROM shingles s LEFT JOIN common c ON s.shingle = c.shingle
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_distinct_shingles, 0) AS n_distinct_shingles,
           COALESCE(n_common, 0) AS n_common,
           CASE WHEN COALESCE(n_distinct_shingles, 0) > 0
                THEN CAST(n_common AS DOUBLE) / n_distinct_shingles
                ELSE 0.0 END AS boilerplate_ratio
    FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
    """
    )


def _common_ngrams_oracle() -> str:
    from snackfs_spark.operators.dedup import SHINGLES_CTE

    return (
        "WITH " + SHINGLES_CTE
        + _COMMON_CTE.format(min_docs=COMMON_MIN_DOCS)
        + f"""
    SELECT shingle, n_docs FROM common
    ORDER BY n_docs DESC, shingle LIMIT {COMMON_TOP_K}
    """
    )


@register("text_common_ngrams", oracle=_common_ngrams_oracle())
def text_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top corpus-common word 3-grams by document frequency — the
    discovery side of boilerplate removal (headers, license banners,
    navigation chrome shared across many pages). One shuffle on the
    shingle key; the top-k cut is per-partition heaps
    (TakeOrderedAndProject), never a global sort."""
    common = _common_shingles(spark, sf_dir)
    return common.orderBy(F.desc("n_docs"), "shingle").limit(COMMON_TOP_K)


@register("text_boilerplate", oracle=_boilerplate_oracle())
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate ratio: the fraction of a doc's distinct
    3-gram shingles that are corpus-common (doc frequency >=
    COMMON_MIN_DOCS). The cross-document complement of text_repetition's
    within-document stats — C4/RefinedWeb drop or strip high-ratio docs.

    Scale shape: TWO shuffles on the shingle key (doc-frequency count,
    then the membership probe back onto the per-doc pairs) and one on
    doc_id for the final roll-up. The common set joins WITHOUT a
    broadcast hint: it is usually boilerplate-sized but corpus-
    proportional in the worst case (template-heavy crawls) — AQE
    broadcasts when it is actually small. Docs with < 3 tokens keep a
    row (ratio 0.0) via the left join from documents.

    The (doc, shingle) relation feeds BOTH the doc-frequency aggregate
    and the probe join; without truncation Spark re-runs the scan +
    explode + distinct for each consumer (~2x work, measured ~1.5s ->
    ~0.9s at sf0.1). localCheckpoint(eager=False) materializes it once
    on first action — same pattern (and the same executor-loss caveat)
    as the Jaccard verifier's candidate reuse, dedup.py."""
    from snackfs_spark.operators.dedup import distinct_shingles_df

    pairs = distinct_shingles_df(spark, sf_dir)
    common = (
        pairs.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= COMMON_MIN_DOCS)
        .select("shingle", F.lit(1).alias("is_common"))
    )
    stats = (
        pairs.join(common, "shingle", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_shingles"),
            F.count("is_common").alias("n_common"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_sh = F.coalesce("n_distinct_shingles", F.lit(0)).cast("long")
    n_co = F.coalesce("n_common", F.lit(0)).cast("long")
    return docs.join(stats, "doc_id", "left_outer").select(
        "doc_id",
        n_sh.alias("n_distinct_shingles"),
        n_co.alias("n_common"),
        F.when(n_sh > 0, n_co.cast("double") / n_sh)
        .otherwise(F.lit(0.0))
        .alias("boilerplate_ratio"),
    )


@register(
    "text_rarity_score",
    oracle="""
    WITH vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.freq) AS BIGINT) AS sum_token_freq,
           CAST(MIN(v.freq) AS BIGINT) AS min_token_freq
    FROM toks t JOIN vocab v ON v.token = t.token
    GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency ("unigram LM") document scoring: each document's
    tokens are scored against the corpus-wide vocabulary — the total and
    minimum corpus frequency of its tokens. A monotone transform of the
    average unigram log-probability (rarer tokens → lower sums) computed
    entirely in integer space, so the result is bit-exact at any
    parallelism (an actual sum of log-doubles would be order-dependent
    AND libm-dependent across engines). This is the standard cheap
    quality/outlier filter before perplexity models enter the pipeline.

    Scale: vocabulary cardinality << token count, so the vocab aggregate
    collapses map-side into a relation small enough to broadcast; the
    token→vocab join is then map-side too, and the per-doc aggregate
    shuffles one row per (doc, partial). Two scans of text, zero
    corpus-sized shuffles."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (
        toks.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_token_freq"),
            F.min("freq").alias("min_token_freq"),
        )
    )


TFIDF_TOP_TERMS = 3


def _tfidf_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks
      GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df, tfidf FROM (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df)
                                           DESC, tf.token) AS rn
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
    ) WHERE rn <= {TFIDF_TOP_TERMS}
    """


@register("text_tfidf_topk", oracle=_tfidf_oracle())
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top characteristic terms per document by TF-IDF — keyword
    extraction / topic fingerprinting over the corpus. The idf factor is
    the raw ratio n_docs/df rather than its log: log is not required to
    be correctly rounded by IEEE 754 (libm differs across engines) while
    multiply and divide are, and rankings under a monotone transform are
    identical — so the scores hash bit-exact across engines.

    Scale: tf aggregates shuffle on (doc, token) at token cardinality;
    df, like the vocabulary, collapses map-side to vocab size and
    broadcasts; n_docs is a one-row broadcast. The per-doc top-k is a
    ranking window with partial WindowGroupLimit, never a global sort."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_TERMS)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


def _bigram_oracle() -> str:
    return """
    WITH toks AS (
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
    big_counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bigrams GROUP BY w1, w2
    ),
    uni_counts AS (
      SELECT w AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY w
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(round_even((CAST(bc.c2 AS DOUBLE) / uc.c1) * 1e12, 0)
                         AS BIGINT)) AS BIGINT) AS prob_lattice_sum
    FROM bigrams g
    JOIN big_counts bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
    JOIN uni_counts uc ON uc.w1 = g.w1
    GROUP BY g.doc_id
    """


@register("text_bigram_prob", oracle=_bigram_oracle())
@shared
def text_bigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring: each document's adjacent word pairs
    are scored by the corpus-wide conditional probability
    P(w2|w1) = count(w1 w2) / count(w1), and the per-doc total is
    reported on a 1e-12 integer lattice (bround half-even, then integer
    sum) — the same engine-portable trick as the k-means centroids,
    because a sum of raw double ratios would be order-dependent. This is
    the next step up from unigram rarity scoring (text_rarity_score):
    fluency-style filtering that catches shuffled/garbled text a unigram
    model scores identically.

    Scale: bigram vocabulary is vocab² worst case but Zipf-small in
    practice — both count relations collapse map-side and broadcast;
    the per-doc aggregate shuffles one row per (doc, partial). The
    bigram explode is a zero-shuffle projection (posexplode + lead via
    array zip, no self-join — the oracle's pos-join form is the SQL
    equivalent, the Spark side never materializes it).

    The (doc_id, n_bigrams, prob_lattice_sum) result — #docs rows, tiny
    next to the explode that produces it — is memoized per (session,
    sf_dir) behind a lazy localCheckpoint (optimization r11, the
    candidate_edges_df pattern): EIGHT registered queries consume this
    relation (perplexity buckets, the AUC/ECE/Brier/isotonic/kappa
    evals, corpus_build_v2, corpus_funnel_report) and each previously
    re-ran the full corpus scan + pair explode + broadcast joins."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    words = F.split(F.col("text"), " ")
    # adjacent pairs without a self-join: zip words with their tail
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        docs.select(F.explode(words).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        pairs.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .withColumn(
            "q",
            F.bround((F.col("c2").cast("double") / F.col("c1")) * F.lit(1.0e12)).cast(
                "bigint"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("prob_lattice_sum"),
        )
        .localCheckpoint(eager=False)
    )


# CCNet-style corpus partitioning (Wenzek et al., "CCNet: Extracting
# high quality monolingual datasets from web crawl data"): score every
# document with the corpus LM, split the corpus into head/middle/tail
# thirds by score, and train preferentially on the head. The classic
# implementation sorts all documents by perplexity to find tertiles — a
# global sort of the corpus. Here the tertile boundaries come from a
# BOUNDED score histogram instead: the per-doc lattice score divides
# into <= 1002 fixed-width cells, cell counts aggregate map-side, and a
# <= 1002-row cumulative window yields a cell -> bucket map that
# broadcasts back. No global sort at any corpus size; boundaries are
# cell-granular (documents sharing a cell share a bucket), which is the
# deterministic, engine-portable contract.
PPL_CELL = 10**9  # histogram cell width on the 1e12 bigram-prob lattice


# The ONE fluency-cell definition (SQL side): per-doc average bigram
# lattice score and its histogram cell. Shared verbatim by the CCNet
# tertile partitioner and the AUC calibration eval so the two can never
# drift apart on what "the LM score" means.
_FLUENCY_AVG_Q_SQL = "COALESCE(s.prob_lattice_sum // s.n_bigrams, -1)"
_FLUENCY_CELL_SQL = (
    f"CASE WHEN {_FLUENCY_AVG_Q_SQL} < 0 THEN -1"
    f" ELSE {_FLUENCY_AVG_Q_SQL} // {PPL_CELL} END"
)


def _fluency_rank_ctes(base: str) -> str:
    """cells/tot/ranked CTE chain over a base relation carrying `cell`:
    the bounded histogram and its strictly-better cumulative counts —
    the shared substrate of every tertile-boundary decision."""
    return f"""cells AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM {base} GROUP BY cell
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    ranked AS (
      SELECT cell,
             CAST(SUM(cnt) OVER (ORDER BY cell DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt AS BIGINT) AS cum_before
      FROM cells
    )"""


def _ppl_buckets_oracle() -> str:
    return f"""
    WITH scores AS ({_bigram_oracle()}),
    docs2 AS (
      SELECT d.doc_id, d.source, d.n_chars,
             {_FLUENCY_AVG_Q_SQL} AS avg_q,
             {_FLUENCY_CELL_SQL} AS cell
      FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
    ),
    {_fluency_rank_ctes("docs2")},
    cell_bucket AS (
      SELECT r.cell,
             CASE WHEN 3 * r.cum_before < t.n THEN 'head'
                  WHEN 3 * r.cum_before < 2 * t.n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked r CROSS JOIN tot t
    )
    SELECT d.source, b.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(d.avg_q) AS BIGINT) AS min_q,
           CAST(MAX(d.avg_q) AS BIGINT) AS max_q
    FROM docs2 d
    JOIN cell_bucket b ON b.cell = d.cell
    GROUP BY d.source, b.bucket
    """


def _with_fluency_cell(base: DataFrame, scores: DataFrame) -> DataFrame:
    """Spark twin of _FLUENCY_AVG_Q_SQL/_FLUENCY_CELL_SQL: left-join the
    bigram scores onto `base` (must carry doc_id) and derive avg_q and
    its histogram cell. The one place the LM-score cell is computed."""
    return (
        base.join(scores, "doc_id", "left")
        .withColumn("avg_q", F.expr("coalesce(prob_lattice_sum div n_bigrams, -1)"))
        .withColumn(
            "cell",
            F.expr(f"CASE WHEN avg_q < 0 THEN -1 ELSE avg_q div {PPL_CELL} END"),
        )
        .drop("n_bigrams", "prob_lattice_sum")
    )


def _cell_cum_before(celled: DataFrame) -> DataFrame:
    """Spark twin of _fluency_rank_ctes: per-cell counts plus the count
    of documents in strictly-better cells (cum_before) and the corpus
    total n — a <= 1002-row relation whatever the corpus size."""
    cells = celled.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    tot = celled.agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("cell").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.withColumn("cum_before", F.sum("cnt").over(w) - F.col("cnt"))
        .crossJoin(F.broadcast(tot))
    )


@shared
def doc_quality_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, source, n_chars, q) relation of THE shared
    stopword-permille quality score (functions.STOPWORD_PERMILLE_SPARK,
    a LONG in 0..1000) — optimization r11, the text_bigram_prob /
    candidate_edges_df pattern. Eight registered queries re-tokenized
    the corpus per call to compute this identical per-doc score (the
    AUC/kappa/conformal/bootstrap evals, the reliability bins behind
    ECE/Brier/isotonic, the Pareto front, DoReMi reweighting, the
    source tournament); they now share one scan behind a lazy
    localCheckpoint. n_chars rides along (a stored column, no extra
    compute) so the skyline consumer needs no second corpus pass."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(STOPWORD_PERMILLE_SPARK).cast("long").alias("q"),
    ).localCheckpoint(eager=False)


@shared
def _fluency_celled_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized doc_quality_df ⋈ bigram-fluency cell join
    (doc_id, source, n_chars, q, avg_q, cell): the shared input of the
    tertile-label family (perplexity buckets, AUC, kappa, reliability
    bins). Each consumer previously re-ran the corpus scan AND the
    doc-keyed fluency join behind a private checkpoint per call."""
    return _with_fluency_cell(
        doc_quality_df(spark, sf_dir), text_bigram_prob(spark, sf_dir)
    ).localCheckpoint(eager=False)


@register("text_perplexity_buckets", oracle=_ppl_buckets_oracle())
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning by bigram-LM
    score, reported per source (the dataset-mixture planning view:
    which sources contribute fluent text, which contribute tail).
    Higher mean bigram probability = more fluent = head. Documents too
    short to score (< 2 tokens) carry avg_q = -1 and land in the tail.

    Scale: the LM scoring is text_bigram_prob's plan (broadcast count
    tables, one token-proportional shuffle). The tertile split does NOT
    sort the corpus: scores histogram onto <= 1002 lattice cells
    map-side, the cumulative split runs over that tiny relation, and
    the cell -> bucket map broadcasts back — the CCNet global
    perplexity sort replaced by two fixed-size aggregates."""
    # the LM scoring pass is the dominant cost and BOTH the histogram
    # branch and the final bucket join consume `scored` — the shared
    # memoized checkpoint runs the scan + fluency join once per session
    # (reliable checkpoint dir on a real cluster).
    scored = _fluency_celled_df(spark, sf_dir)
    # <= 1002 rows: the single-partition window is over the histogram,
    # never the corpus.
    cell_bucket = _cell_cum_before(scored).select(
        "cell",
        F.when(3 * F.col("cum_before") < F.col("n"), "head")
        .when(3 * F.col("cum_before") < 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        scored.join(F.broadcast(cell_bucket), "cell")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("avg_q").cast("long").alias("min_q"),
            F.max("avg_q").cast("long").alias("max_q"),
        )
    )


BM25_K1_NUM, BM25_K1_DEN = 12, 10   # k1 = 1.2 as an exact rational
BM25_B_NUM, BM25_B_DEN = 3, 4       # b = 0.75
BM25_QUERY = ("table", "scan", "join")  # fixed query terms
BM25_TOP = 20


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({terms}) GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(round_even(
               ((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1_NUM}.0 / {BM25_K1_DEN} + 1))
               / (tf.tf + ({BM25_K1_NUM}.0 / {BM25_K1_DEN})
                  * (1 - {BM25_B_NUM}.0 / {BM25_B_DEN}
                     + ({BM25_B_NUM}.0 / {BM25_B_DEN})
                       * (dl.dl * n.n_docs / CAST(n.total_len AS DOUBLE))))
               * 1e9, 0) AS BIGINT)) AS BIGINT) AS score_lattice
      FROM tf
      JOIN df ON df.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score_lattice FROM (
      SELECT doc_id, score_lattice,
             ROW_NUMBER() OVER (ORDER BY score_lattice DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {BM25_TOP}
    """


@register("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query, top-20
    documents — the lexical-retrieval baseline every RAG/dataset-search
    stack starts from. Determinism: the idf factor is the rational
    (N−df+0.5)/(df+0.5) (no log — libm is not portable across engines;
    rational idf is the same quantity before the log transform and BM25
    rank order under a per-term monotone map is preserved for
    single-term contributions), and per-term contributions are quantized
    to a 1e-9 lattice with half-even rounding before the integer sum, so
    the total is order-independent AND engine-exact.

    Scale: doc lengths and term stats collapse map-side (df is
    query-terms-sized, broadcast); only matching postings join; top-k is
    TakeOrderedAndProject. avgdl enters as dl·N/total_len — one
    correctly-rounded double chain shared by both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    k1 = f"{BM25_K1_NUM}.0 / {BM25_K1_DEN}"
    b = f"{BM25_B_NUM}.0 / {BM25_B_DEN}"
    contrib = (
        f"CAST(bround(((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))"
        f" * (tf * ({k1} + 1))"
        f" / (tf + ({k1}) * (1 - {b} + ({b}) * (dl * n_docs / CAST(total_len AS DOUBLE))))"
        f" * 1e9, 0) AS BIGINT)"
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(contrib)).alias("score_lattice"))
    )
    return (
        scored.orderBy(F.col("score_lattice").desc(), F.col("doc_id"))
        .limit(BM25_TOP)
        .select("doc_id", "score_lattice")
    )


HYBRID_QUERY_VEC = 0  # vec_id of the "query" embedding for the rerank stage


def _hybrid_oracle() -> str:
    dot = (
        "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), "
        "(x, y) -> x + y)"
    )
    cos = (
        f"{dot.format(a='qv.ev', b='cv.ev')}"
        f" / (sqrt({dot.format(a='qv.ev', b='qv.ev')})"
        f" * sqrt({dot.format(a='cv.ev', b='cv.ev')}))"
    )
    return f"""
    WITH bm25 AS ({_bm25_oracle()}),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),
    qv AS (SELECT ev FROM emb WHERE vec_id = {HYBRID_QUERY_VEC})
    SELECT b.doc_id, b.score_lattice, {cos} AS cosine
    FROM bm25 b JOIN emb cv ON cv.vec_id = b.doc_id CROSS JOIN qv
    ORDER BY cosine DESC, b.doc_id
    """


@register("hybrid_search_topk", oracle=_hybrid_oracle())
def hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the standard RAG stack's two-stage ranker:
    cheap lexical recall (BM25 top-k over the full corpus) followed by
    dense re-ranking (embedding cosine against the query vector) of just
    the candidates. Composition is the scale story: the expensive dense
    math touches k rows, never the corpus; the BM25 stage is the
    map-side-collapsing plan above; the rerank is a broadcast of one
    query vector against k candidate embeddings. Candidates without an
    embedding row drop out (inner join), exactly as the oracle does."""
    from snackfs_spark.sources.tables import load_table as _lt

    cands = text_bm25_topk(spark, sf_dir)
    emb = _lt(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ev")
    )
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("ev").alias("qev")
    )
    dot = "aggregate(zip_with(qev, ev, (x, y) -> x * y), 0D, (s, z) -> s + z)"
    nq = "sqrt(aggregate(zip_with(qev, qev, (x, y) -> x * y), 0D, (s, z) -> s + z))"
    nc = "sqrt(aggregate(zip_with(ev, ev, (x, y) -> x * y), 0D, (s, z) -> s + z))"
    return (
        cands.join(emb, cands["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(qv))
        .withColumn("cosine", F.expr(f"{dot} / ({nq} * {nc})"))
        .orderBy(F.col("cosine").desc(), F.col("doc_id"))
        .select("doc_id", "score_lattice", "cosine")
    )


@register(
    "text_inverted_index",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(
             list_transform(list_sort(list(doc_id))[1:16],
                            x -> CAST(x AS VARCHAR)), ',') AS postings_head
    FROM tf GROUP BY token HAVING COUNT(*) >= 3
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the retrieval-infra counterpart of
    text_bm25_topk, which recomputes postings per query): token ->
    document frequency, collection tf, and the head of the sorted
    posting list. df >= 3 drops the hapax tail.

    Scale shape: explode -> one shuffle keyed by token with map-side
    partial aggregation for df/total_tf. The posting LIST is the scale
    hazard — a stopword's postings are corpus-sized — so the
    materialized list is hard-capped at 16 entries (the index row stays
    O(1)); a full index would range-bucket postings by (token, doc_id
    range) into multiple rows, same plan, no giant row either way."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 16).alias("p"),
        )
        .filter(F.col("df") >= 3)
        .select(
            "token",
            "df",
            "total_tf",
            F.array_join(
                F.transform(F.col("p"), lambda x: x.cast("string")), ","
            ).alias("postings_head"),
        )
    )


# The co-occurrence vocabulary: top tokens by document frequency, ties
# broken lexically so both engines pick the identical set.
COOC_VOCAB = 100
COOC_TOPK = 200


@register(
    "text_cooccurrence_topk",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS df FROM tok WHERE token <> '' GROUP BY 1
      ) QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, token) <= {COOC_VOCAB}
    ),
    vtok AS (SELECT t.doc_id, t.token FROM tok t JOIN vocab v USING (token))
    SELECT a.token AS token_a, b.token AS token_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM vtok a JOIN vtok b ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY 1, 2
    QUALIFY ROW_NUMBER() OVER (ORDER BY n_docs DESC, token_a, token_b)
            <= {COOC_TOPK}
    """,
)
def text_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence counts (word2vec/PMI-style statistics): how
    many documents contain both tokens of a pair, for pairs drawn from
    the top-{COOC_VOCAB}-by-df vocabulary, top {COOC_TOPK} pairs.

    Scale shape: the naive all-token self-join is O(doc_len^2) rows per
    document and unbounded across the corpus; restricting both sides to
    a fixed vocabulary bounds the pair-key space at vocab^2 (~1e4 here)
    regardless of corpus size. The vocabulary is tiny and BROADCAST, so
    the only shuffle is the pair-count aggregation over bounded keys;
    the doc_id equi-self-join stays co-partitioned on doc_id. Both
    top-k cuts use orderBy+limit — TakeOrderedAndProject (per-partition
    partial top-k, no single-partition global window; the determinism
    the QUALIFY oracle needs comes from the full tie-break ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    # the distinct (doc, token) relation feeds the vocab cut AND both
    # self-join sides; unchckpointed, the tokenize + DISTINCT shuffle
    # ran three times (0 ReusedExchange in the measured plan) — the
    # distinct-shingles-table trade (r11 opt)
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(COOC_VOCAB)
        .select("token")
    )
    vtok = tok.join(F.broadcast(vocab), "token")
    a = vtok.select(F.col("doc_id"), F.col("token").alias("token_a"))
    b = vtok.select(F.col("doc_id"), F.col("token").alias("token_b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "token_a", "token_b")
        .limit(COOC_TOPK)
    )


# ---------------------------------------------------------------------------
# BPE merge LEARNING (the trainer, not just the pair census): K rounds
# of count-adjacent-pairs -> take the most frequent pair -> merge it
# everywhere, run entirely as a declarative plan in BOTH engines.

BPE_ROUNDS = 5

# The greedy left-to-right merge as a string fold. acc holds the
# re-segmented word (symbols joined by single spaces, symbols never
# contain spaces); merging pair (pa, pb) replaces a trailing symbol pa
# followed by incoming pb with the fused symbol pa+pb. Both engines run
# the IDENTICAL fold logic, so segmentations match byte-for-byte.
# Fused symbols are joined with a control char (\x01) that the word
# filter excludes from the corpus: joining with a printable char like
# '+' would CONFLATE distinct merges on corpora containing it (merging
# ('a+','b') and ('a','+b') would both name the symbol 'a++b', and the
# later rounds would count and re-segment the wrong unit — identically
# in both engines, so the oracle could never catch it).
BPE_FUSE = "\x01"

_MERGE_SPARK = (
    "aggregate(split(repr, ' '), '', (acc, x) -> CASE "
    "WHEN acc = '' THEN x "
    "WHEN substring_index(acc, ' ', -1) = pa AND x = pb THEN "
    f"  left(acc, length(acc) - length(pa)) || pa || '{BPE_FUSE}' || pb "
    "ELSE acc || ' ' || x END)"
)
_MERGE_DUCK = (
    "list_reduce(string_split(repr, ' '), (acc, x) -> CASE "
    "WHEN regexp_extract(acc, '[^ ]*$') = pa AND x = pb THEN "
    f"  acc[1:len(acc) - len(pa)] || pa || '{BPE_FUSE}' || pb "
    "ELSE acc || ' ' || x END)"
)


def _bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """The shared K-round CTE chain (words, w0..wK, p/b per round),
    carrying the word column so consumers can join back to the corpus."""
    ctes = [
        f"""words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' AND strpos(word, '{BPE_FUSE}') = 0 GROUP BY word
    )""",
        "w0 AS (SELECT word, array_to_string(string_split(word, ''), ' ') "
        "AS repr, n FROM words)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT s[i] AS pa, s[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (
        SELECT string_split(repr, ' ') AS s, n,
               unnest(range(1, len(string_split(repr, ' ')))) AS i
        FROM w{r - 1}
      ) GROUP BY s[i], s[i + 1]
    )""")
        ctes.append(
            f"b{r} AS (SELECT pa, pb, cnt FROM p{r} "
            "ORDER BY cnt DESC, pa, pb LIMIT 1)"
        )
        ctes.append(
            f"w{r} AS (SELECT word, {_MERGE_DUCK} AS repr, n "
            f"FROM w{r - 1}, b{r})"
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    selects = [
        f"SELECT {r} AS round, pa AS pair_a, pb AS pair_b, cnt FROM b{r}"
        for r in range(1, rounds + 1)
    ]
    return _bpe_ctes(rounds) + "\n" + " UNION ALL ".join(selects)


@register("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, K rounds, as one declarative plan: each
    round counts adjacent symbol pairs over the current segmentation
    (weighted by word frequency), takes the argmax pair (count desc,
    then lexicographic — the deterministic tie-break), and re-segments
    every word by the greedy left-to-right merge fold. Output = the
    learned merge table (round, pair, count), i.e. the artifact a BPE
    tokenizer ships.

    The data-dependent control flow (round r+1's expression depends on
    round r's argmax) stays INSIDE the plan: the 1-row argmax cross-joins
    back in (Spark broadcasts it), and the merge is a higher-order
    aggregate fold referencing those columns — no driver collect()
    between rounds, so the whole K-round trainer is one lazy DAG.

    Scale shape: the corpus-sized work is EXACTLY ONE word-count
    shuffle; every round after that operates on the word-frequency
    table (vocab-sized, ~sqrt of corpus tokens by Heaps' law) — the
    standard trick that makes BPE training tractable at 100 TB.
    Per-round cost: one vocab-sized pair explode + a <=vocab-keyed
    aggregate + a 1-row sort. The argmax fan-in is the only global
    point, and it carries one row. Determinism: integer counts, string
    folds — both engines agree bit-for-bit (same fold logic, pinned by
    the oracle)."""
    merges, _vocab = _bpe_chain(spark, sf_dir)
    out = merges[0]
    for o in merges[1:]:
        out = out.unionAll(o)
    return out


@shared
def _bpe_chain(spark: SparkSession, sf_dir: str):
    """Shared K-round BPE chain: returns ([per-round merge rows], final
    re-segmented vocab (word, repr, n)). Both the trainer's output and
    the corpus segmenter hang off this one lazy DAG. Memoized per
    (session, sf_dir) — optimization r11: THREE registered queries
    (learn_merges, segment_corpus, fertility_by_source) each rebuilt the
    chain, re-materializing the word-count shuffle and all K per-round
    checkpoints; now the chain's lazy checkpoints are shared, so the
    battery folds the vocabulary once."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").contains(BPE_FUSE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Checkpoint the vocab table: K rounds each trigger an action, and
    # without truncation every round re-runs the corpus-sized word-count
    # shuffle; with it the corpus is scanned ONCE and all rounds operate
    # on the materialized vocab (the at-scale contract in the docstring).
    w = words.select(
        "word", F.array_join(F.split("word", ""), " ").alias("repr"), "n"
    ).localCheckpoint(eager=False)
    outs = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = (
            w.select(
                F.explode(
                    # sequence(1, 0) is DESCENDING [1, 0], not empty (same
                    # guard as shingles_df): 1-symbol words yield no pairs
                    F.expr(
                        "transform(CASE WHEN size(split(repr, ' ')) >= 2 "
                        "THEN sequence(1, size(split(repr, ' ')) - 1) "
                        "ELSE array() END, "
                        "i -> struct(element_at(split(repr, ' '), i) AS pa, "
                        "element_at(split(repr, ' '), i + 1) AS pb))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "pa", "pb").limit(1)
        # localCheckpoint: round r+1's DAG references best TWICE (merge +
        # output) and each round otherwise re-derives every prior round.
        best = best.localCheckpoint(eager=False)
        outs.append(
            best.select(
                F.lit(r).alias("round"),
                F.col("pa").alias("pair_a"),
                F.col("pb").alias("pair_b"),
                "cnt",
            )
        )
        # per-round checkpoint: keeps round r+1's lineage at the
        # re-segmented vocab instead of re-folding rounds 1..r (the
        # final round's merge feeds the segmenter, so all K apply)
        w = (
            w.crossJoin(F.broadcast(best.select("pa", "pb")))
            .select("word", F.expr(_MERGE_SPARK).alias("repr"), "n")
            .localCheckpoint(eager=False)
        )
    return outs, w


def _bpe_segment_oracle(rounds: int = BPE_ROUNDS) -> str:
    return (
        _bpe_ctes(rounds)
        + f""",
    tok AS (
      SELECT word, CAST(len(string_split(repr, ' ')) AS BIGINT) AS n_sub
      FROM w{rounds}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subtokens
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) dw JOIN tok USING (word)
    WHERE word <> ''
    GROUP BY doc_id"""
    )


@register("bpe_segment_corpus", oracle=_bpe_segment_oracle())
def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus: per document,
    the word count and the SUBTOKEN count under the K-round merge table
    — the tokenizer-application half of the loop (bpe_learn_merges is
    the training half; both hang off the same lazy chain), and the
    number a sequence-packing/budgeting step actually consumes.

    Scale shape: segmentation happens on the VOCAB (each distinct word
    re-segmented once, vocab-sized fold work), and the corpus-sized
    work is one exploded word join against that (word, n_subtokens) map
    plus a doc_id roll-up — the corpus is never folded row-by-row. The
    join carries no broadcast hint: vocab is corpus-dependent, AQE
    broadcasts when it is actually small."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    _merges, vocab = _bpe_chain(spark, sf_dir)
    tok = vocab.select(
        "word", F.size(F.split("repr", " ")).cast("long").alias("n_sub")
    )
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dw.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subtokens"),
        )
    )


@register(
    "source_vocab_similarity",
    oracle="""
    WITH tf AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY source, word
    ),
    norms AS (
      SELECT source, CAST(SUM(c * c) AS BIGINT) AS nrm FROM tf GROUP BY source
    ),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM tf a JOIN tf b ON a.word = b.word AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT d.source_a, d.source_b, d.dot,
           CAST(d.dot AS DOUBLE)
             / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON na.source = d.source_a
    JOIN norms nb ON nb.source = d.source_b
    """,
)
def source_vocab_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary similarity between sources: cosine over
    term-frequency vectors — the corpus-diagnostics view that says
    which feeds SPEAK alike (complementing dedup_source_matrix, which
    says which feeds COPY each other). High-cosine low-dup pairs are
    same-domain distinct feeds (keep both); high-dup pairs are mirrors
    (deduplicate).

    Scale shape: the tf relation collapses map-side to (sources x
    vocab) rows; the pairwise dot is an equi-join on the token key over
    that collapsed relation — each token contributes |sources-present|²
    pairs, so the join output is bounded by vocab x sources², never
    corpus-sized. All accumulation is bigint (counts, squared norms,
    dot products); the single float expression per output row divides
    by the product of two correctly-rounded sqrts — identical op order
    in both engines, so 300 cosines hash-match exactly."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tf.groupBy("source").agg(F.sum(F.col("c") * F.col("c")).alias("nrm"))
    a = tf.select(F.col("source").alias("source_a"), "word", F.col("c").alias("ca"))
    b = tf.select(F.col("source").alias("source_b"), "word", F.col("c").alias("cb"))
    dots = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 additions: retrieval passage chunking and the PII scrubbing
# scan every corpus release runs.
# ---------------------------------------------------------------------------

CHUNK_W = 64   # tokens per retrieval passage
CHUNK_S = 48   # stride (16-token overlap between adjacent passages)


@register(
    "doc_chunk_sliding",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n, i AS chunk_idx,
             list_slice(toks, i * {CHUNK_S} + 1,
                        least(i * {CHUNK_S} + {CHUNK_W}, n)) AS ctoks
      FROM (
        SELECT doc_id, toks, n,
               unnest(range(0, (n + {CHUNK_S} - 1) // {CHUNK_S})) AS i
        FROM t
      )
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_S} AS BIGINT) AS start_tok,
           CAST(len(ctoks) AS BIGINT) AS n_tok,
           md5(array_to_string(ctoks, ' ')) AS chunk_md5
    FROM c
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking (the RAG / retrieval-index prep
    step): {CHUNK_W}-token windows at stride {CHUNK_S} (adjacent
    passages overlap by {CHUNK_W - CHUNK_S} tokens), every token covered,
    trailing windows short. Pure per-row expressions — split once,
    explode chunk indices, slice — so chunking runs at scan parallelism
    with ZERO shuffles; at 100 TB this is a narrow map stage feeding the
    embedding step. Each chunk is hash-checked (md5 of its re-joined
    tokens), so off-by-one in window/stride arithmetic cannot hide."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.expr(f"(size(split(text, ' ')) + {CHUNK_S - 1}) div {CHUNK_S}")
    d = docs.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    # slice(start, length) with the tail clamped to n — same arithmetic
    # as the oracle's list_slice bounds
    ctoks = F.expr(
        f"slice(toks, chunk_idx * {CHUNK_S} + 1, "
        f"least(CAST({CHUNK_W} AS INT), CAST(n - chunk_idx * {CHUNK_S} AS INT)))"
    )
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx").cast("long") * CHUNK_S).alias("start_tok"),
        F.size(ctoks).cast("long").alias("n_tok"),
        F.md5(F.array_join(ctoks, " ").cast("binary")).alias("chunk_md5"),
    )


# The corpus text carries no natural PII (all-lowercase word salad), so
# the scan operates on log lines SYNTHESIZED from the events table —
# the point of the operator is the scrub pipeline itself: pattern
# counting and global redaction with IDENTICAL semantics in Spark's
# Java regex and the oracle's RE2 (a cross-engine contract that breaks
# on lookarounds/backrefs — none used here by design).
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_DIGITS = r"\b[0-9]{6,}\b"
_PII_TOKEN = r"sk-[0-9a-f]{8}"


@register(
    "events_pii_scan",
    oracle=f"""
    WITH lg AS (
      SELECT event_id,
             'evt ' || CAST(event_id AS VARCHAR)
               || ' acct ' || CAST(100000 + user_id * 7919 AS VARCHAR)
               || ' ip 10.' || CAST(user_id % 256 AS VARCHAR)
               || '.' || CAST(event_id % 256 AS VARCHAR)
               || '.' || CAST((user_id + event_id) % 256 AS VARCHAR)
               || ' key sk-' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
               || ' type ' || event_type AS line
      FROM events
    )
    SELECT event_id,
           CAST(len(regexp_extract_all(line, '{_PII_IP}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(line, '{_PII_DIGITS}')) AS BIGINT) AS n_digit_runs,
           CAST(len(regexp_extract_all(line, '{_PII_TOKEN}')) AS BIGINT) AS n_keys,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
                  line, '{_PII_TOKEN}', '[KEY]', 'g'),
                  '{_PII_IP}', '[IP]', 'g'),
                  '{_PII_DIGITS}', '[NUM]', 'g')) AS BIGINT) AS redacted_len,
           md5(regexp_replace(regexp_replace(regexp_replace(
                 line, '{_PII_TOKEN}', '[KEY]', 'g'),
                 '{_PII_IP}', '[IP]', 'g'),
                 '{_PII_DIGITS}', '[NUM]', 'g')) AS redacted_md5
    FROM lg
    """,
)
def events_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing scan: count IP / long-digit / secret-key patterns
    per record and emit the fully REDACTED line's length + md5 (the
    redaction order — keys, then IPs, then digit runs — is part of the
    contract: an IP's octets must not be half-eaten by the digit pass).
    Everything is JVM regex expressions at scan parallelism, zero
    shuffles, zero UDFs; at 100 TB this is the pre-release scrub pass
    over every text/log column."""
    ev = fan_out(load_table(spark, sf_dir, "events"), spark)
    line = F.concat(
        F.lit("evt "), F.col("event_id").cast("string"),
        F.lit(" acct "), (F.lit(100000) + F.col("user_id") * 7919).cast("string"),
        F.lit(" ip 10."), (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"),
        F.lit("."), ((F.col("user_id") + F.col("event_id")) % 256).cast("string"),
        F.lit(" key sk-"), F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
        F.lit(" type "), F.col("event_type"),
    )
    d = ev.select("event_id", line.alias("line"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("line"), _PII_TOKEN, "[KEY]"),
            _PII_IP, "[IP]",
        ),
        _PII_DIGITS, "[NUM]",
    )
    return d.select(
        "event_id",
        F.regexp_count(F.col("line"), F.lit(_PII_IP)).cast("long").alias("n_ip"),
        F.regexp_count(F.col("line"), F.lit(_PII_DIGITS)).cast("long").alias("n_digit_runs"),
        F.regexp_count(F.col("line"), F.lit(_PII_TOKEN)).cast("long").alias("n_keys"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Filter-calibration eval: exact AUC + PR curve without a global sort.
#
# The training-pipeline question this answers: "how well does my CHEAP
# quality heuristic predict the EXPENSIVE quality signal?" (the
# CCNet/FineWeb calibration step — you only deploy the cheap filter at
# 100 TB if it tracks the signal you actually care about). Here the
# cheap score is the stopword permille of text_quality_score's battery
# and the reference label is membership in the bigram-LM head tertile
# (text_perplexity_buckets' CCNet split). Both are engine-portable
# integer lattices, so the WHOLE evaluation — per-threshold confusion
# counts and the ROC AUC itself — is exact integer arithmetic.
#
# The scale trick is the same bounded-histogram move as the perplexity
# tertiles: the score takes <= 1001 distinct values, so ranking-based
# AUC (the Mann-Whitney U statistic, ties counted half) needs only the
# per-cell (pos, neg) histogram, never a corpus sort:
#     2U = sum_cells pos_c * (2 * neg_below_c + neg_c)
#     AUC = 2U / 2PN, accumulated in decimal(38,0) (the products wrap
#     int64 once P*N passes ~4.6e18 — a few billion docs) and emitted
#     as ONE double: the correctly-rounded quotient of the exact
#     rational, identical in both engines because decimal->double and
#     a single IEEE division are both correctly rounded.


def _auc_oracle() -> str:
    return f"""
    WITH scores AS ({_bigram_oracle()}),
    labeled AS (
      SELECT d.doc_id,
             {STOPWORD_PERMILLE_SQL} AS score_cell,
             {_FLUENCY_CELL_SQL} AS cell
      FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
    ),
    {_fluency_rank_ctes("labeled")},
    cell_label AS (
      SELECT r.cell, CASE WHEN 3 * r.cum_before < t.n THEN 1 ELSE 0 END AS label
      FROM ranked r CROSS JOIN tot t
    ),
    hist AS (
      SELECT l.score_cell,
             CAST(SUM(cl.label) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(cl.label) AS BIGINT) AS neg
      FROM labeled l JOIN cell_label cl ON cl.cell = l.cell
      GROUP BY l.score_cell
    ),
    curve AS (
      SELECT score_cell, pos, neg,
             CAST(SUM(neg) OVER (ORDER BY score_cell
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg
                  AS BIGINT) AS cum_neg_below,
             CAST(SUM(pos) OVER (ORDER BY score_cell DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY score_cell DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
      FROM hist
    ),
    tots AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS p_tot,
             CAST(SUM(neg) AS BIGINT) AS n_tot,
             SUM(CAST(pos AS DECIMAL(18,0))
                 * CAST(2 * cum_neg_below + neg AS DECIMAL(19,0))) AS num_dec
      FROM curve
    )
    SELECT c.score_cell AS threshold,
           c.tp,
           c.fp,
           CAST(t.p_tot - c.tp AS BIGINT) AS fn,
           CAST(t.n_tot - c.fp AS BIGINT) AS tn,
           CASE WHEN t.p_tot = 0 OR t.n_tot = 0 THEN NULL
                ELSE CAST(t.num_dec AS DOUBLE)
                     / CAST(CAST(t.p_tot AS DECIMAL(18,0))
                            * CAST(t.n_tot AS DECIMAL(18,0))
                            * CAST(2 AS DECIMAL(1,0)) AS DOUBLE)
           END AS auc
    FROM curve c CROSS JOIN tots t
    """


@register("eval_quality_auc", oracle=_auc_oracle())
def eval_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter calibration: exact ROC AUC and per-threshold
    confusion counts of the cheap stopword-permille score against the
    bigram-LM head-tertile label, one row per occupied score cell
    (threshold = "predict positive at score_cell >= t"). AUC is the
    tie-aware Mann-Whitney statistic 2U / 2PN, computed exactly in
    decimal(38,0) integer space (int64 wraps past ~4.6e18 positive-
    negative pairs) and emitted once as its correctly-rounded double,
    constant across rows.

    Scale: the only corpus-proportional work is the bigram scoring pass
    (broadcast count tables) and two map-side histogram collapses — the
    score has <= 1001 cells, so the ranking statistic, the cumulative
    confusion counts, and the tertile boundaries all run on bounded
    relations with broadcast map-backs. No global sort at any corpus
    size; the classic per-doc rank assignment never happens."""
    # The bigram pass is the dominant cost and feeds BOTH the tertile
    # histogram and the score/label join — the shared memoized
    # checkpoint runs it once per session.
    labeled = _fluency_celled_df(spark, sf_dir).select(
        "doc_id", F.col("q").alias("score_cell"), "cell"
    )
    cell_label = _cell_cum_before(labeled).select(
        "cell",
        F.when(3 * F.col("cum_before") < F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )
    hist = (
        labeled.join(F.broadcast(cell_label), "cell")
        .groupBy("score_cell")
        .agg(
            F.sum("label").alias("pos"),
            (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
        )
    )
    # <= 1001 rows from here on: the single-partition windows are over
    # the score histogram, never the corpus.
    wa = Window.orderBy("score_cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wdesc = Window.orderBy(F.col("score_cell").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        hist.withColumn("cum_neg_below", F.sum("neg").over(wa) - F.col("neg"))
        .withColumn("tp", F.sum("pos").over(wdesc))
        .withColumn("fp", F.sum("neg").over(wdesc))
    )
    # widen the SUMMANDS, not the finished sum (the OLS-trend lesson):
    # a decimal-typed summand makes Spark accumulate in decimal(38,0),
    # matching the oracle's exact accumulation.
    tots = curve.agg(
        F.sum("pos").alias("p_tot"),
        F.sum("neg").alias("n_tot"),
        F.sum(
            F.col("pos").cast("decimal(18,0)")
            * (2 * F.col("cum_neg_below") + F.col("neg")).cast("decimal(19,0)")
        ).alias("num_dec"),
    )
    den_dec = (
        F.col("p_tot").cast("decimal(18,0)")
        * F.col("n_tot").cast("decimal(18,0)")
        * F.lit(2).cast("decimal(1,0)")
    )
    return curve.crossJoin(F.broadcast(tots)).select(
        F.col("score_cell").cast("long").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("p_tot") - F.col("tp")).cast("long").alias("fn"),
        (F.col("n_tot") - F.col("fp")).cast("long").alias("tn"),
        F.when(
            (F.col("p_tot") > 0) & (F.col("n_tot") > 0),
            F.col("num_dec").cast("double") / den_dec.cast("double"),
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Retrieval eval: per-query first-relevant rank + recall counts.
#
# Third member of the eval family (calibration AUC, clustering
# agreement, now ranking): run the BM25 ranker over a fixed multi-query
# workload and score it against a deterministic relevance set — a doc
# is relevant to a query iff it contains ALL the query's terms (strict
# AND; BM25 ranks the OR-candidates). Everything emitted is an integer
# (ranks and counts), so the eval is engine-exact; MRR/recall@k are one
# division away for any consumer.

EVAL_RETRIEVAL_QUERIES: dict[str, tuple[str, ...]] = {
    "q_table_scan_join": ("table", "scan", "join"),
    "q_data_row_fast": ("data", "row", "fast"),
    "q_spark_filter_value": ("spark", "filter", "value"),
}


def _retrieval_ctes() -> str:
    """Shared oracle CTE block (workload -> BM25 top-k -> relevance ->
    per-query relevant counts) — the SQL mirror of
    ``_retrieval_rank_rel``; eval_retrieval_ranks / eval_ndcg_at_k /
    eval_pr_auc all append their metric to this same prefix so the
    three oracles can never drift apart."""
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in EVAL_RETRIEVAL_QUERIES.items()
        for t in terms
    )
    qsizes = ", ".join(
        f"('{qid}', {len(terms)})" for qid, terms in EVAL_RETRIEVAL_QUERIES.items()
    )
    k1 = f"{BM25_K1_NUM}.0 / {BM25_K1_DEN}"
    b = f"{BM25_B_NUM}.0 / {BM25_B_DEN}"
    return f"""
    q(query_id, token) AS (VALUES {qvals}),
    qsize(query_id, n_terms) AS (VALUES {qsizes}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    tf AS (
      SELECT q.query_id, t.doc_id, t.token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks t JOIN q ON q.token = t.token
      GROUP BY 1, 2, 3
    ),
    df AS (SELECT query_id, token, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY 1, 2),
    scored AS (
      SELECT tf.query_id, tf.doc_id,
             CAST(SUM(CAST(round_even(
               ((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({k1} + 1))
               / (tf.tf + ({k1})
                  * (1 - {b} + ({b})
                     * (dl.dl * n.n_docs / CAST(n.total_len AS DOUBLE))))
               * 1e9, 0) AS BIGINT)) AS BIGINT) AS score_lattice
      FROM tf
      JOIN df ON df.query_id = tf.query_id AND df.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN n
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score_lattice DESC, doc_id) AS rn
        FROM scored
      ) WHERE rn <= {BM25_TOP}
    ),
    rel AS (
      SELECT tf.query_id, tf.doc_id
      FROM tf JOIN qsize s ON s.query_id = tf.query_id
      GROUP BY tf.query_id, tf.doc_id, s.n_terms
      HAVING COUNT(DISTINCT tf.token) = s.n_terms
    ),
    nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
             FROM rel GROUP BY query_id)"""


def _retrieval_oracle() -> str:
    return f"""
    WITH {_retrieval_ctes()}
    SELECT s.query_id,
           COALESCE(nr.n_rel, 0) AS n_rel,
           CAST(COUNT(r.doc_id) AS BIGINT) AS rel_in_topk,
           CAST(MIN(CASE WHEN r.doc_id IS NOT NULL THEN t.rn END)
                AS BIGINT) AS first_rel_rank
    FROM qsize s
    LEFT JOIN topk t ON t.query_id = s.query_id
    LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
    LEFT JOIN nrel nr ON nr.query_id = s.query_id
    GROUP BY s.query_id, nr.n_rel
    """


@shared
def _retrieval_rank_rel(spark: SparkSession, sf_dir: str):
    """Shared BM25 ranking + relevance pipeline for the retrieval-eval
    family: (qsize, topk, rel, nrel) — the Spark mirror of
    ``_retrieval_ctes``. One token scan feeds everything; per-query
    term stats are query-sized broadcasts, only matching postings join,
    the per-query ranking is a WindowGroupLimit top-k, and the
    relevance set is an AND-count over the same (localCheckpointed)
    postings relation.

    Memoized per (session, sf_dir), the dedup_prefix_filter pattern
    (r7 VERDICT #6): three retrieval evals (ranks, NDCG, AP) consume
    the identical bounded relations, so a bench session pays the token
    scan once — lazy localCheckpoints, materialized by whichever query
    runs first; semantics and hashes unchanged. The checkpoint hides
    the pipeline from the consumers' plans, so the plan pin targets
    ``_retrieval_rank_rel_raw``."""
    qsize, topk, rel, nrel = _retrieval_rank_rel_raw(spark, sf_dir)
    return (
        qsize,
        topk.localCheckpoint(eager=False),
        rel.localCheckpoint(eager=False),
        nrel.localCheckpoint(eager=False),
    )


def _retrieval_rank_rel_raw(spark: SparkSession, sf_dir: str):
    """The uncheckpointed pipeline behind ``_retrieval_rank_rel`` —
    what the physical-plan assertions inspect."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    qterms = spark.createDataFrame(
        [
            (qid, t)
            for qid, terms in EVAL_RETRIEVAL_QUERIES.items()
            for t in terms
        ],
        "query_id string, token string",
    )
    qsize = spark.createDataFrame(
        [(qid, len(terms)) for qid, terms in EVAL_RETRIEVAL_QUERIES.items()],
        "query_id string, n_terms int",
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len"))
    tf = (
        toks.join(F.broadcast(qterms), "token")
        .groupBy("query_id", "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("query_id", "token").agg(F.count(F.lit(1)).alias("df"))
    k1 = f"{BM25_K1_NUM}.0 / {BM25_K1_DEN}"
    b = f"{BM25_B_NUM}.0 / {BM25_B_DEN}"
    contrib = (
        f"CAST(bround(((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))"
        f" * (tf * ({k1} + 1))"
        f" / (tf + ({k1}) * (1 - {b} + ({b}) * (dl * n_docs / CAST(total_len AS DOUBLE))))"
        f" * 1e9, 0) AS BIGINT)"
    )
    # the postings relation feeds scoring AND the relevance semi-join —
    # pin it so the token scan runs once.
    tf = tf.localCheckpoint(eager=False)
    scored = (
        tf.join(F.broadcast(df), ["query_id", "token"])
        .join(dl, "doc_id")
        .join(F.broadcast(n))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.expr(contrib)).alias("score_lattice"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score_lattice").desc(), F.col("doc_id")
    )
    topk = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BM25_TOP)
        .select("query_id", "doc_id", "rn")
    )
    rel = (
        tf.groupBy("query_id", "doc_id")
        .agg(F.count_distinct("token").alias("m"))
        .join(F.broadcast(qsize), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    return qsize, topk, rel, nrel


@register("eval_retrieval_ranks", oracle=_retrieval_oracle())
def eval_retrieval_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking eval of the BM25 retriever over a fixed 3-query
    workload: per query, the corpus relevant-doc count (docs containing
    ALL query terms), how many relevant docs made the top-20, and the
    rank of the first relevant hit (NULL if none) — the integer
    substrate of MRR and recall@k.

    Scale: the shared ``_retrieval_rank_rel`` pipeline (one token scan,
    broadcast term stats, WindowGroupLimit top-k, AND-semi-join
    relevance); this query adds only |queries|-sized joins on top.
    Output is |queries| rows."""
    qsize, topk, rel, nrel = _retrieval_rank_rel(spark, sf_dir)
    hits = topk.join(
        rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("is_rel"), F.lit(0)))
        .cast("long")
        .alias("rel_in_topk"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rn")))
        .cast("long")
        .alias("first_rel_rank"),
    )
    return (
        qsize.select("query_id")
        .join(per_q, "query_id", "left")
        .join(F.broadcast(nrel), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce(F.col("rel_in_topk"), F.lit(0))
            .cast("long")
            .alias("rel_in_topk"),
            "first_rel_rank",
        )
    )


# Graded ranking metrics on the shared BM25 workload. Both stay on the
# exact integer lattice so the oracle checks the metric itself:
# - NDCG's 1/log2(i+1) discounts are irrational, so they are
#   PRECOMPUTED once in Python as micro-unit integers and injected into
#   BOTH plans as a literal table — engine parity by construction, the
#   same injected-constant trick as the perceptron weights.
# - Average precision uses per-position P@k floored to ppm BEFORE the
#   sum (a deterministic, well-defined quantity: the mean of floored
#   precisions at relevant ranks), then floors the mean — truncating
#   integer division agrees across engines; float P@k sums would not.
NDCG_K = 10
_NDCG_W = {
    i: round(1_000_000 / math.log2(i + 1)) for i in range(1, BM25_TOP + 1)
}


def _ndcg_oracle() -> str:
    wvals = ", ".join(f"({i}, {w})" for i, w in _NDCG_W.items())
    return f"""
    WITH {_retrieval_ctes()},
    w(rn, wgt) AS (VALUES {wvals}),
    dcg AS (
      SELECT t.query_id, CAST(SUM(w.wgt) AS BIGINT) AS dcg_micro
      FROM topk t
      JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
      JOIN w ON w.rn = t.rn
      WHERE t.rn <= {NDCG_K}
      GROUP BY t.query_id
    ),
    idcg AS (
      SELECT nr.query_id, CAST(SUM(w.wgt) AS BIGINT) AS idcg_micro
      FROM nrel nr JOIN w ON w.rn <= LEAST(nr.n_rel, {NDCG_K})
      GROUP BY nr.query_id
    )
    SELECT s.query_id,
           COALESCE(nr.n_rel, 0) AS n_rel,
           COALESCE(d.dcg_micro, 0) AS dcg_micro,
           COALESCE(i.idcg_micro, 0) AS idcg_micro,
           CAST(CASE WHEN COALESCE(i.idcg_micro, 0) > 0
                THEN (1000000 * COALESCE(d.dcg_micro, 0)) // i.idcg_micro
                ELSE 0 END AS BIGINT) AS ndcg_ppm
    FROM qsize s
    LEFT JOIN nrel nr ON nr.query_id = s.query_id
    LEFT JOIN dcg d ON d.query_id = s.query_id
    LEFT JOIN idcg i ON i.query_id = s.query_id
    """


@register("eval_ndcg_at_k", oracle=_ndcg_oracle())
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of the BM25 retriever per workload query: the
    discounted cumulative gain over relevant docs in the top-{NDCG_K}
    (micro-unit integer discounts), the ideal DCG for the query's
    relevant count, and their ppm ratio — the position-sensitive
    ranking score MRR/recall@k flatten away.

    Scale: the shared ``_retrieval_rank_rel`` pipeline does all data
    work; the metric itself is |queries| x {NDCG_K} arithmetic. The
    weights enter as LITERAL arrays instead of a joined table (r12
    optimization): dcg reads element_at(W, rn) per relevant hit and
    idcg is a prefix-sum lookup at min(n_rel, K) — the same integers
    the old weight-table joins summed, with the two weight joins, the
    idcg crossJoin and two of the broadcast exchanges gone (warm cost
    was ~1.0 s of chained broadcast jobs over <=3-row relations)."""
    qsize, topk, rel, nrel = _retrieval_rank_rel(spark, sf_dir)
    w_arr = f"array({', '.join(f'{_NDCG_W[i]}L' for i in range(1, NDCG_K + 1))})"
    prefix = [0]
    for i in range(1, NDCG_K + 1):
        prefix.append(prefix[-1] + _NDCG_W[i])
    p_arr = f"array({', '.join(f'{p}L' for p in prefix)})"
    dcg = (
        topk.filter(F.col("rn") <= NDCG_K)
        .join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.sum(F.expr(f"element_at({w_arr}, CAST(rn AS INT))"))
            .cast("long")
            .alias("dcg_micro")
        )
    )
    return (
        qsize.select("query_id")
        .join(F.broadcast(nrel), "query_id", "left")
        .join(F.broadcast(dcg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce("dcg_micro", F.lit(0)).cast("long").alias("dcg_micro"),
            F.expr(
                f"element_at({p_arr}, "
                f"CAST(least(coalesce(n_rel, 0), {NDCG_K}) AS INT) + 1)"
            )
            .cast("long")
            .alias("idcg_micro"),
        )
        .select(
            "query_id",
            "n_rel",
            "dcg_micro",
            "idcg_micro",
            F.when(
                F.col("idcg_micro") > 0,
                F.expr("(1000000 * dcg_micro) div idcg_micro"),
            )
            .otherwise(0)
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )


def _pr_auc_oracle() -> str:
    return f"""
    WITH {_retrieval_ctes()},
    hits AS (
      SELECT t.query_id, t.rn,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM topk t
      LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
    ),
    prec AS (
      SELECT query_id, rn, is_rel,
             (1000000 * SUM(is_rel) OVER (PARTITION BY query_id ORDER BY rn))
               // rn AS p_ppm
      FROM hits
    ),
    ap AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN is_rel = 1 THEN p_ppm ELSE 0 END) AS BIGINT)
               AS sum_p_ppm
      FROM prec GROUP BY query_id
    )
    SELECT s.query_id,
           COALESCE(nr.n_rel, 0) AS n_rel,
           COALESCE(a.sum_p_ppm, 0) AS sum_p_ppm,
           CAST(CASE WHEN COALESCE(nr.n_rel, 0) > 0
                THEN COALESCE(a.sum_p_ppm, 0) // LEAST(nr.n_rel, {BM25_TOP})
                ELSE 0 END AS BIGINT) AS ap_ppm
    FROM qsize s
    LEFT JOIN nrel nr ON nr.query_id = s.query_id
    LEFT JOIN ap a ON a.query_id = s.query_id
    """


@register("eval_pr_auc", oracle=_pr_auc_oracle())
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve area) at {BM25_TOP} of the BM25
    retriever per workload query: cumulative P@k floored to ppm at each
    relevant rank, summed, and divided by min(n_rel, {BM25_TOP}) — the
    order-sensitive companion to eval_quality_auc's ROC readout
    (PR-AUC is the one that stays informative under class imbalance,
    the usual regime for retrieval relevance).

    Scale: the shared ``_retrieval_rank_rel`` pipeline does all data
    work; the metric is a |queries| x {BM25_TOP} running-sum window on
    the already-ranked top-k relation."""
    qsize, topk, rel, nrel = _retrieval_rank_rel(spark, sf_dir)
    hits = topk.join(
        rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    ).select(
        "query_id", "rn", F.coalesce("is_rel", F.lit(0)).alias("is_rel")
    )
    prec = hits.select(
        "query_id",
        "rn",
        "is_rel",
        F.expr("1000000 * sum(is_rel) over (partition by query_id order by rn)")
        .cast("long")
        .alias("cum_scaled"),
    ).select(
        "query_id",
        "is_rel",
        F.expr("cum_scaled div rn").alias("p_ppm"),
    )
    ap = prec.groupBy("query_id").agg(
        F.sum(F.when(F.col("is_rel") == 1, F.col("p_ppm")).otherwise(0))
        .cast("long")
        .alias("sum_p_ppm")
    )
    return (
        qsize.select("query_id")
        .join(F.broadcast(nrel), "query_id", "left")
        .join(F.broadcast(ap), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce("sum_p_ppm", F.lit(0)).cast("long").alias("sum_p_ppm"),
            F.when(
                F.coalesce("n_rel", F.lit(0)) > 0,
                F.expr(
                    f"coalesce(sum_p_ppm, 0) div least(n_rel, {BM25_TOP})"
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("ap_ppm"),
        )
    )


# Collocation mining: rank adjacent-token pairs by LIFT — the log-free
# substrate of PMI (PMI = log lift, and log is monotone, so ranking by
# exact-integer lift IS ranking by PMI without touching libm, the
# engine-portability rule from events_drift_tv). lift = P(w2|w1)/P(w2)
# = c_xy·N / (c_x·c_y), held exact in decimal(38,0) / HUGEINT and
# emitted as an integer ppm via truncating division (both engines
# truncate non-negative quotients identically).
COLLOC_MIN_COUNT = 5
COLLOC_TOP = 100


@register(
    "text_collocation_lift",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, i, words[i + 1] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(range(0, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    ),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk WHERE w <> '' GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
    big AS (
      SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE a.w <> '' AND b.w <> ''
      GROUP BY 1, 2
    )
    SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
           CAST((1000000 * CAST(c_xy AS HUGEINT) * n.n_uni)
                // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
    FROM big
    JOIN uni u1 ON u1.w = big.w1
    JOIN uni u2 ON u2.w = big.w2
    CROSS JOIN n
    WHERE c_xy >= {COLLOC_MIN_COUNT}
    QUALIFY ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, w1, w2) <= {COLLOC_TOP}
    """,
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COLLOC_TOP} collocations by exact-integer lift (the
    monotone substrate of PMI — no libm): adjacent-token pairs whose
    co-occurrence beats their unigram popularity, the phrase-mining
    signal behind multi-word tokenizer entries and boilerplate
    detection.

    Scale: bigrams come from the zero-shuffle zip-with projection (no
    positional self-join — the oracle does that; cross-algorithm);
    unigram and bigram counts collapse map-side onto vocabulary-sized
    keys. The two count joins run shuffle-hashed because vocabulary
    grows with the corpus; the scalar token total broadcasts. The
    final top-k is one TakeOrderedAndProject, never a global sort."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    words = F.split(F.col("text"), " ")
    toks = docs.select(F.explode(words).alias("w")).filter(F.col("w") != "")
    # NO checkpoint on the unigram relation: the r11 checkpoint (4 scans
    # -> 2) was re-A/B'd in r12 (VERDICT #3) — 4 interleaved sessions,
    # best-of-5 each: checkpointed 1.05/1.19/1.05/1.10 s vs regenerated
    # 0.94/1.08/0.76/1.00 s at sf0.1 — consistently 10-25% WORSE. The
    # vocab collapse is map-side-cheap and the checkpoint's RDD
    # round-trip costs more than the re-scan it saves; REVERTED (the
    # q21/vocab_growth standard).
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = (
        pairs.filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= COLLOC_MIN_COUNT)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        big.join(u1.hint("shuffle_hash"), "w1")
        .join(u2.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(n_uni))
        .withColumn(
            "lift_ppm",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * c_xy * n_uni)"
                " div (CAST(c_x AS DECIMAL(38,0)) * c_y)"
            ).cast("long"),
        )
    )
    return (
        scored.orderBy(F.col("lift_ppm").desc(), "w1", "w2")
        .limit(COLLOC_TOP)
        .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_ppm")
    )


# ------------------------------------------- Kneser-Ney smoothed bigrams ----
#
# Interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999), the
# standard n-gram LM smoothing, with the textbook fixed discount D=3/4:
#
#   P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1*)
#            + (D * N1+(w1 *)/c(w1*)) * N1+(* w2)/B
#
# where c(w1*) is the bigram-token count with w1 on the left, N1+ are
# the left/right CONTINUATION type counts and B the distinct-bigram
# type count. What text_bigram_prob leaves unsmoothed (an unseen bigram
# scores zero; a word seen only inside one frequent collocation is
# over-credited), KN fixes with the continuation distribution — the
# reason it is the n-gram filter of choice in CCNet-style pipelines.
#
# Exactness: with D = 3/4 every term is a rational over the common
# denominator 4*c(w1*)*B, so the engine emits integer numerator +
# denominator (kn_num, kn_den) and the double kn_prob is one final
# division — bit-identical in both engines regardless of partitioning.
# Products are accumulated in DECIMAL(38,0) (the OLS int64-wrap lesson)
# and only the <= int64 final values cast back.
KN_MIN_COUNT = 5  # report bigrams with c(w1 w2) >= 5


def _kn_oracle() -> str:
    return f"""
    WITH pairs AS (
      SELECT string_split(text, ' ')[i + 1] AS w1,
             string_split(text, ' ')[i + 2] AS w2
      FROM (
        SELECT text,
               unnest(range(0, greatest(len(string_split(text, ' ')) - 1, 0))) AS i
        FROM documents
      )
      WHERE string_split(text, ' ')[i + 1] <> '' AND string_split(text, ' ')[i + 2] <> ''
    ),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM pairs GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS n1p_left
            FROM big GROUP BY w1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_right FROM big GROUP BY w2),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_types FROM big)
    SELECT big.w1, big.w2, big.c12, lft.c1, lft.n1p_left, rgt.n1p_right, b.b_types,
           CAST((4 * big.c12 - 3) * b.b_types
                + 3 * lft.n1p_left * rgt.n1p_right AS BIGINT) AS kn_num,
           CAST(4 * lft.c1 * b.b_types AS BIGINT) AS kn_den,
           CAST((4 * big.c12 - 3) * b.b_types + 3 * lft.n1p_left * rgt.n1p_right
                AS DOUBLE) / CAST(4 * lft.c1 * b.b_types AS DOUBLE) AS kn_prob
    FROM big JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN b
    WHERE big.c12 >= {KN_MIN_COUNT}
    """


@register("text_kneser_ney_bigram", oracle=_kn_oracle())
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (fixed discount 3/4)
    for every bigram with count >= KN_MIN_COUNT: token counts, left/right
    continuation type counts, the distinct-bigram universe, and the exact
    rational P(w2|w1) as (kn_num, kn_den) over the common denominator
    4*c(w1)*B plus its double quotient.

    Scale: ONE corpus scan explodes adjacent pairs zero-shuffle
    (zip_with, no self-join); bigram counts collapse map-side onto the
    Zipf-small bigram vocabulary and every later relation (left margins,
    right continuation counts, the 1-row type total) is vocab-sized.
    Margin joins run shuffle-hash on the vocab keys — vocab relations
    are corpus-unbounded in the worst case, so never broadcast (the
    100x-sweep OOM lesson); the 1-row B total broadcasts back in-plan."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    words = F.split(F.col("text"), " ")
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = (
        pairs.filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    big = big.localCheckpoint(eager=False)  # feeds margins AND the join below
    lft = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_left"),
    )
    rgt = big.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p_right"))
    b = big.agg(F.count(F.lit(1)).cast("long").alias("b_types"))
    return (
        big.filter(F.col("c12") >= KN_MIN_COUNT)
        .join(lft.hint("shuffle_hash"), "w1")
        .join(rgt.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(b))
        .withColumn(
            "kn_num",
            F.expr(
                "(CAST(4 AS DECIMAL(38,0)) * c12 - 3) * b_types"
                " + CAST(3 AS DECIMAL(38,0)) * n1p_left * n1p_right"
            ).cast("long"),
        )
        .withColumn(
            "kn_den",
            F.expr("CAST(4 AS DECIMAL(38,0)) * c1 * b_types").cast("long"),
        )
        .withColumn(
            "kn_prob", F.col("kn_num").cast("double") / F.col("kn_den").cast("double")
        )
        .select(
            "w1", "w2", "c12", "c1", "n1p_left", "n1p_right", "b_types",
            "kn_num", "kn_den", "kn_prob",
        )
    )


# ---------------------------------------------------------------------------
# Calibration eval #2: Expected Calibration Error over score deciles.
#
# eval_quality_auc answers "does the cheap score RANK docs like the
# expensive label?" (discrimination). ECE answers the complementary
# question: "can the score be READ AS a probability?" (calibration) —
# the standard reliability-diagram summary (Naeini et al. 2015; Guo et
# al. 2017). Score and label are the shared pair every calibration op
# uses: stopword permille (read as P(head)*1000) vs bigram-LM head-
# tertile membership.
#
# Exactness: per-bin gap = |pos/n - mean_score/1000| has the common
# denominator 1000*n_b, so the bin-weighted ECE telescopes to
#     ECE = sum_b |1000*pos_b - sum_score_b| / (1000 * N)
# — an integer numerator (decimal-accumulated) over one denominator,
# emitted as a single correctly-rounded double division.
ECE_BIN = 100  # permille per bin -> 11 reliability bins (0..10)


def _reliability_bins_ctes() -> str:
    """Shared oracle CTE block: stopword-permille score + bigram-LM
    head-tertile label collapsed onto occupied score deciles — the
    reliability histogram both eval_calibration_ece and
    eval_isotonic_calibration read."""
    return f"""scores AS ({_bigram_oracle()}),
    labeled AS (
      SELECT d.doc_id,
             {STOPWORD_PERMILLE_SQL} AS score_cell,
             {_FLUENCY_CELL_SQL} AS cell
      FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
    ),
    {_fluency_rank_ctes("labeled")},
    cell_label AS (
      SELECT r.cell, CASE WHEN 3 * r.cum_before < t.n THEN 1 ELSE 0 END AS label
      FROM ranked r CROSS JOIN tot t
    ),
    bins AS (
      SELECT l.score_cell // {ECE_BIN} AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cl.label) AS BIGINT) AS pos,
             CAST(SUM(l.score_cell) AS BIGINT) AS sum_score,
             CAST(SUM(l.score_cell * l.score_cell) AS BIGINT) AS sum_score2,
             CAST(SUM(l.score_cell * cl.label) AS BIGINT) AS sum_score_label
      FROM labeled l JOIN cell_label cl ON cl.cell = l.cell
      GROUP BY 1
    )"""


def _ece_oracle() -> str:
    return f"""
    WITH {_reliability_bins_ctes()},
    tots AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             SUM(abs(CAST(1000 AS DECIMAL(38,0)) * pos - sum_score)) AS gap_sum
      FROM bins
    )
    SELECT b.bin, b.n, b.pos, b.sum_score,
           CAST(abs(1000 * b.pos - b.sum_score) AS BIGINT) AS gap_num,
           CAST(t.gap_sum AS DOUBLE)
             / CAST(CAST(1000 AS DECIMAL(38,0)) * t.n_total AS DOUBLE) AS ece
    FROM bins b CROSS JOIN tots t
    """


@shared
def _reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reliability histogram (bin, n, pos, sum_score) both
    calibration evals read — Spark mirror of ``_reliability_bins_ctes``.
    The bigram scoring pass is the only corpus-proportional work; the
    histogram collapses map-side onto <= 11 bins. Memoized behind a
    lazy localCheckpoint: THREE registered queries (ECE, Brier,
    isotonic) consume this identical <= 11-row relation and each
    previously re-ran the celled-corpus scan + label join per call."""
    labeled = _fluency_celled_df(spark, sf_dir).select(
        "doc_id", F.col("q").alias("score_cell"), "cell"
    )
    cell_label = _cell_cum_before(labeled).select(
        "cell",
        F.when(3 * F.col("cum_before") < F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )
    return (
        labeled.join(F.broadcast(cell_label), "cell")
        .groupBy((F.col("score_cell") / ECE_BIN).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
            F.sum("score_cell").cast("long").alias("sum_score"),
            # the two extra moments the Brier decomposition needs; ECE
            # and isotonic select their columns explicitly, so these
            # ride along for free
            F.sum(F.col("score_cell") * F.col("score_cell"))
            .cast("long")
            .alias("sum_score2"),
            F.sum(F.col("score_cell") * F.col("label"))
            .cast("long")
            .alias("sum_score_label"),
        )
        .localCheckpoint(eager=False)
    )


@register("eval_calibration_ece", oracle=_ece_oracle())
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins + Expected Calibration Error of the
    stopword-permille score (read as a probability) against the
    bigram-LM head-tertile label: one row per occupied score decile with
    exact integer (n, pos, sum_score, gap_num) and the corpus ECE as a
    single correctly-rounded double, constant across rows.

    Scale: identical posture to eval_quality_auc — the bigram scoring
    pass is the only corpus-proportional work; the reliability histogram
    collapses map-side onto <= 11 bins and every downstream step is
    arithmetic over that bounded relation."""
    bins = _reliability_bins(spark, sf_dir)
    tots = bins.agg(
        F.sum("n").alias("n_total"),
        F.sum(
            F.abs(
                F.lit(1000).cast("decimal(38,0)") * F.col("pos") - F.col("sum_score")
            )
        ).alias("gap_sum"),
    )
    return bins.crossJoin(F.broadcast(tots)).select(
        "bin",
        "n",
        "pos",
        "sum_score",
        F.abs(1000 * F.col("pos") - F.col("sum_score")).cast("long").alias("gap_num"),
        (
            F.col("gap_sum").cast("double")
            / (F.lit(1000).cast("decimal(38,0)") * F.col("n_total")).cast("double")
        ).alias("ece"),
    )


def _isotonic_oracle() -> str:
    return f"""
    WITH {_reliability_bins_ctes()},
    pre AS (
      SELECT bin, n, pos,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(pos) OVER (ORDER BY bin) AS cp,
             COALESCE(SUM(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn0,
             COALESCE(SUM(pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp0
      FROM bins
    ),
    pairs AS (
      SELECT a.bin AS jb, b.bin AS kb,
             CAST(b.cp - a.cp0 AS BIGINT) AS pnum,
             CAST(b.cn - a.cn0 AS BIGINT) AS pden,
             CAST(b.cp - a.cp0 AS DOUBLE) / (b.cn - a.cn0) AS v
      FROM pre a JOIN pre b ON b.bin >= a.bin
    ),
    tri AS (
      SELECT i.bin AS ib, p.jb, p.kb, p.pnum, p.pden, p.v
      FROM pre i JOIN pairs p ON p.jb <= i.bin AND p.kb >= i.bin
    ),
    inner_min AS (
      SELECT ib, jb, pnum, pden, v FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ib, jb
                                     ORDER BY v, kb) AS rn
        FROM tri
      ) WHERE rn = 1
    ),
    fit AS (
      SELECT ib, pnum, pden FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ib
                                     ORDER BY v DESC, jb) AS rn
        FROM inner_min
      ) WHERE rn = 1
    )
    SELECT b.bin, b.n, b.pos,
           CAST((1000000 * b.pos) // b.n AS BIGINT) AS raw_ppm,
           f.pnum AS fitted_num,
           f.pden AS fitted_den,
           CAST((1000000 * f.pnum) // f.pden AS BIGINT) AS fitted_ppm
    FROM bins b JOIN fit f ON f.ib = b.bin
    """


@register("eval_isotonic_calibration", oracle=_isotonic_oracle())
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the same reliability histogram ECE
    reads: per occupied score decile the raw positive rate and the
    L2-isotonic fitted rate — the monotone recalibration map a scorer
    ships when its raw scores rank well but mis-state probabilities
    (the remedy for exactly the gaps eval_calibration_ece measures).

    Computed by the exact max-min identity fitted_i = max_{{j<=i}}
    min_{{k>=i}} avg(pos, bins j..k) — algebraically equal to
    pool-adjacent-violators but expressible as two ranking passes over
    the (i, j, k) triple relation instead of a sequential pooling loop.
    Weighted means stay exact rationals; the selection key is their
    correctly-rounded double quotient (one division — bit-identical in
    both engines, ties broken by bin index).

    Scale: the corpus pays only the shared bigram scoring pass; the
    histogram is <= 11 bins, so the triple relation is <= 11³ rows of
    driver-free bounded algebra — the same calendar-grid argument as
    the survival/backlog windows."""
    bins = _reliability_bins(spark, sf_dir).localCheckpoint(eager=False)
    wcum = Window.orderBy("bin")
    wprev = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    pre = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("pos").over(wcum).alias("cp"),
        F.coalesce(F.sum("n").over(wprev), F.lit(0)).alias("cn0"),
        F.coalesce(F.sum("pos").over(wprev), F.lit(0)).alias("cp0"),
    ).localCheckpoint(eager=False)
    a = pre.alias("a")
    b = pre.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.bin") >= F.col("a.bin")).select(
        F.col("a.bin").alias("jb"),
        F.col("b.bin").alias("kb"),
        (F.col("b.cp") - F.col("a.cp0")).cast("long").alias("pnum"),
        (F.col("b.cn") - F.col("a.cn0")).cast("long").alias("pden"),
        (
            (F.col("b.cp") - F.col("a.cp0")).cast("double")
            / (F.col("b.cn") - F.col("a.cn0"))
        ).alias("v"),
    )
    tri = pre.select(F.col("bin").alias("ib")).join(
        F.broadcast(pairs),
        (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
    )
    w_min = Window.partitionBy("ib", "jb").orderBy("v", "kb")
    inner_min = (
        tri.withColumn("rn", F.row_number().over(w_min))
        .filter(F.col("rn") == 1)
        .drop("rn", "kb")
    )
    w_max = Window.partitionBy("ib").orderBy(F.col("v").desc(), "jb")
    fit = (
        inner_min.withColumn("rn", F.row_number().over(w_max))
        .filter(F.col("rn") == 1)
        .select("ib", "pnum", "pden")
    )
    return bins.join(
        F.broadcast(fit.withColumnRenamed("ib", "bin")), "bin"
    ).select(
        "bin",
        "n",
        "pos",
        F.expr("(1000000 * pos) div n").cast("long").alias("raw_ppm"),
        F.col("pnum").alias("fitted_num"),
        F.col("pden").alias("fitted_den"),
        F.expr("(1000000 * pnum) div pden").cast("long").alias("fitted_ppm"),
    )


# ---------------------------------------------------------------------------
# Agreement eval: Cohen's kappa between two independent cheap labelers.
#
# Third calibration-family member: chance-corrected AGREEMENT (Cohen
# 1960). Where AUC sweeps thresholds and ECE reads the score as a
# probability, kappa fixes both labelers binary and asks whether they
# agree beyond chance — the standard check before trusting two cheap
# heuristics to vote. Labeler A: stopword permille >= the corpus-median
# cell (fixed constant). Labeler B: bigram-LM head tertile.
#
# kappa = (po - pe) / (1 - pe) over the 2x2 contingency is the exact
# rational (N*(n11+n00) - r1*c1 - r0*c0) / (N*N - r1*c1 - r0*c0);
# both sides emit it as integer numerator/denominator plus one division.
KAPPA_SCORE_T = 60  # labeler A positive iff stopword permille >= 60


def _kappa_oracle() -> str:
    return f"""
    WITH scores AS ({_bigram_oracle()}),
    labeled AS (
      SELECT d.doc_id,
             CASE WHEN {STOPWORD_PERMILLE_SQL} >= {KAPPA_SCORE_T} THEN 1 ELSE 0 END
               AS label_a,
             {_FLUENCY_CELL_SQL} AS cell
      FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
    ),
    {_fluency_rank_ctes("labeled")},
    cell_label AS (
      SELECT r.cell, CASE WHEN 3 * r.cum_before < t.n THEN 1 ELSE 0 END AS label_b
      FROM ranked r CROSS JOIN tot t
    ),
    cont AS (
      SELECT CAST(SUM(label_a * label_b) AS BIGINT) AS n11,
             CAST(SUM(label_a * (1 - label_b)) AS BIGINT) AS n10,
             CAST(SUM((1 - label_a) * label_b) AS BIGINT) AS n01,
             CAST(SUM((1 - label_a) * (1 - label_b)) AS BIGINT) AS n00,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM labeled l JOIN cell_label cl ON cl.cell = l.cell
    )
    SELECT n11, n10, n01, n00, n,
           CAST(CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                - CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                - CAST(n00 + n10 AS DECIMAL(38,0)) * (n00 + n01) AS BIGINT)
             AS kappa_num,
           CAST(CAST(n AS DECIMAL(38,0)) * n
                - CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                - CAST(n00 + n10 AS DECIMAL(38,0)) * (n00 + n01) AS BIGINT)
             AS kappa_den,
           CAST(CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                - CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                - CAST(n00 + n10 AS DECIMAL(38,0)) * (n00 + n01) AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * n
                    - CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                    - CAST(n00 + n10 AS DECIMAL(38,0)) * (n00 + n01) AS DOUBLE)
             AS kappa
    FROM cont
    """


@register("eval_kappa_agreement", oracle=_kappa_oracle())
def eval_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the binary stopword filter (permille >=
    KAPPA_SCORE_T) and the bigram-LM head-tertile label: the full 2x2
    contingency plus the chance-corrected agreement as exact integer
    numerator/denominator and one double division.

    Scale: the bigram pass dominates; the contingency is a single
    map-side collapse to one row and the kappa algebra runs on that row
    in decimal(38,0) — N*(counts) products wrap int64 past ~3e9 docs,
    the same reason the AUC numerator is decimal."""
    labeled = _fluency_celled_df(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("q") >= KAPPA_SCORE_T, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label_a"),
        "cell",
    )
    cell_label = _cell_cum_before(labeled).select(
        "cell",
        F.when(3 * F.col("cum_before") < F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("label_b"),
    )
    cont = (
        labeled.join(F.broadcast(cell_label), "cell")
        .agg(
            F.sum(F.col("label_a") * F.col("label_b")).cast("long").alias("n11"),
            F.sum(F.col("label_a") * (1 - F.col("label_b"))).cast("long").alias("n10"),
            F.sum((1 - F.col("label_a")) * F.col("label_b")).cast("long").alias("n01"),
            F.sum((1 - F.col("label_a")) * (1 - F.col("label_b")))
            .cast("long")
            .alias("n00"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * (F.col("n11") + F.col("n00"))
        - (F.col("n11") + F.col("n10")).cast(dec) * (F.col("n11") + F.col("n01"))
        - (F.col("n00") + F.col("n10")).cast(dec) * (F.col("n00") + F.col("n01"))
    )
    den = (
        F.col("n").cast(dec) * F.col("n")
        - (F.col("n11") + F.col("n10")).cast(dec) * (F.col("n11") + F.col("n01"))
        - (F.col("n00") + F.col("n10")).cast(dec) * (F.col("n00") + F.col("n01"))
    )
    return cont.select(
        "n11",
        "n10",
        "n01",
        "n00",
        "n",
        num.cast("long").alias("kappa_num"),
        den.cast("long").alias("kappa_den"),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


# --------------------------------------------------- tokenizer fertility ----
#
# The eval every tokenizer-training run ends with: per corpus source,
# how many subtokens the learned BPE merge table spends per word and
# per character. Fertility (subtokens per 1000 words) and compression
# (chars per 1000 subtokens) are THE numbers that decide whether a
# merge table transfers across sources — a source with outlier
# fertility pays proportionally more sequence length (= training
# compute) per character of content. Composes the trained merge chain
# (bpe_learn_merges) with the source dimension; the identical
# SQL-unrolled K-round segmentation drives the oracle.


def _bpe_fertility_oracle(rounds: int = BPE_ROUNDS) -> str:
    return (
        _bpe_ctes(rounds)
        + f""",
    tok AS (
      SELECT word, CAST(len(string_split(repr, ' ')) AS BIGINT) AS n_sub
      FROM w{rounds}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.n_sub) AS BIGINT) AS n_subtokens,
           CAST(SUM(len(dw.word)) AS BIGINT) AS n_chars,
           CAST((1000 * SUM(tok.n_sub)) // COUNT(*) AS BIGINT)
             AS fertility_permille,
           CAST((1000 * SUM(len(dw.word))) // SUM(tok.n_sub) AS BIGINT)
             AS chars_per_kilotoken
    FROM (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ) dw JOIN tok USING (word)
    WHERE word <> ''
    GROUP BY source"""
    )


@register("bpe_fertility_by_source", oracle=_bpe_fertility_oracle())
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer-fertility report under the learned K-round
    BPE merge table: words, subtokens, chars, fertility (subtokens per
    1000 words) and compression (chars per 1000 subtokens) — the
    transfer eval that flags sources the tokenizer serves poorly.

    Scale: identical posture to bpe_segment_corpus — segmentation folds
    over the VOCAB (each distinct word once), the corpus-sized work is
    one exploded word join against the (word, n_sub) map, and the
    rollup collapses map-side onto |sources| keys. Ratios are exact
    integer permilles, so the report hash-matches at any partitioning."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    _merges, vocab = _bpe_chain(spark, sf_dir)
    tok = vocab.select(
        "word", F.size(F.split("repr", " ")).cast("long").alias("n_sub")
    )
    dw = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dw.join(tok, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subtokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.expr("(1000 * sum(n_sub)) div count(1)")
            .cast("long")
            .alias("fertility_permille"),
            F.expr("(1000 * sum(length(word))) div sum(n_sub)")
            .cast("long")
            .alias("chars_per_kilotoken"),
        )
    )


# ----------------------------------------------------- vocabulary growth ----
#
# Heaps-law curve, computed exactly: vocabulary size at power-of-two
# document-count checkpoints, plus the new-type and token volume each
# doubling contributes. The estimate every tokenizer/embedding-table
# sizing exercise starts from ("how fast does the type inventory grow
# if we ingest 10x more of this?"), and the sub-linear curve is the
# empirical law the projection rests on. doc_ids are contiguous 0..n-1
# (pinned by the conftest dtype contract), so "first c docs" = doc_id
# < c and the checkpoint prefix is well-defined and reproducible.
#
# The doubling bucket comes from the BINARY LENGTH of the first-
# occurrence doc_id (length(bin(x)) — exact integer in both engines;
# floor(log2) via floats would risk an off-by-one at exact powers).


@register(
    "text_vocab_growth",
    oracle="""
    WITH dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    firsts AS (
      SELECT word, MIN(doc_id) AS first_doc
      FROM dw WHERE word <> '' GROUP BY word
    ),
    new_types AS (
      SELECT CASE WHEN first_doc = 0 THEN 0
                  ELSE length(bin(first_doc)) END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ),
    tok AS (
      SELECT CASE WHEN doc_id = 0 THEN 0
                  ELSE length(bin(doc_id)) END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM dw WHERE word <> '' GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.bucket,
           CAST(LEAST(CASE WHEN t.bucket = 0 THEN 1
                           ELSE 2 ** t.bucket END, n.n_docs) AS BIGINT)
             AS checkpoint_docs,
           CAST(COALESCE(nt.n_new, 0) AS BIGINT) AS new_types,
           CAST(SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY t.bucket) AS BIGINT)
             AS vocab,
           t.n_tok AS new_tokens,
           CAST(SUM(t.n_tok) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens
    FROM tok t LEFT JOIN new_types nt ON nt.bucket = t.bucket
    CROSS JOIN n
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Heaps-law vocabulary-growth curve: per power-of-two doc
    prefix (checkpoint c = min(2^bucket, n_docs)), the number of new
    word types first seen in that doubling, the cumulative vocabulary,
    and the token volume — the curve a vocab-size projection
    extrapolates.

    Scale: one exploded scan feeds BOTH aggregates — first-occurrence
    (min over the word key: ONE vocab-sized map-side-combinable
    shuffle) and per-bucket token counts (<= 64 integer keys, collapsed
    map-side from codegen bucket exprs). The prefix sums run over the
    <= 64-row bucket table (the documented bounded two-phase
    decomposition). No sort, no join over the corpus."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    bucket_of = lambda col: F.when(F.col(col) == 0, F.lit(0)).otherwise(  # noqa: E731
        F.length(F.conv(F.col(col).cast("string"), 10, 2))
    ).cast("int")
    # deliberately TWO tokenize passes (r11 opt A/B): collapsing once
    # onto checkpointed (word, doc) counts replaced a cheap re-scan with
    # a corpus-proportional shuffle + checkpoint and measured 17% SLOWER
    # (0.92 -> 1.08 s best-of-3); both existing shuffles already
    # map-side-combine (word partial-min / 64 bucket keys)
    firsts = dw.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    new_types = (
        firsts.groupBy(bucket_of("first_doc").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    tok = dw.groupBy(bucket_of("doc_id").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok.join(new_types, "bucket", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "bucket",
            F.least(
                F.when(F.col("bucket") == 0, F.lit(1).cast("long")).otherwise(
                    F.expr("shiftleft(1L, bucket)")
                ),
                F.col("n_docs"),
            )
            .cast("long")
            .alias("checkpoint_docs"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("new_types"),
            F.col("n_tok").alias("new_tokens"),
        )
        .withColumn("vocab", F.sum("new_types").over(w).cast("long"))
        .withColumn("cum_tokens", F.sum("new_tokens").over(w).cast("long"))
        .select(
            "bucket", "checkpoint_docs", "new_types", "vocab",
            "new_tokens", "cum_tokens",
        )
    )


# --------------------------------------------------- novelty decay curve ----
#
# The "is more of this data worth ingesting?" curve: per decile of the
# corpus in doc_id (ingest) order, how many 3-gram occurrences are
# NOVEL — their gram first appears in that doc — versus repeats of
# grams already seen earlier. The declining novelty permille across
# deciles is the diminishing-returns evidence a data-acquisition
# decision reads (and the aggregate view of what dedup_span_ngrams
# localizes span-by-span). Novelty is occurrence-level: every
# occurrence inside the gram's FIRST document counts as novel (the
# within-first-doc repeats are new content being established, not
# cross-document duplication).


@register(
    "corpus_novelty_curve",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')
               AS g
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(len(string_split(text, ' ')) - 2, 0))) AS i
        FROM documents
      )
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    occ AS (
      SELECT (10 * gr.doc_id) // n.n_docs AS decile,
             CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel,
             CASE WHEN gr.doc_id = f.first_doc THEN f.g END AS novel_g
      FROM grams gr JOIN firsts f ON f.g = gr.g CROSS JOIN n
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS novel_grams,
           CAST(COUNT(DISTINCT novel_g) AS BIGINT) AS new_types,
           CAST((1000 * SUM(novel)) // COUNT(*) AS BIGINT) AS novelty_permille
    FROM occ GROUP BY decile
    """,
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-decay curve over ingest order: per doc_id decile, total
    3-gram occurrences, occurrences of grams making their first
    appearance, distinct new gram types, and the novelty permille —
    the diminishing-returns report behind "do we ingest more of this
    source?".

    Scale: decile occurrence totals roll up map-side onto 10 keys
    straight off the gram scan (no vocab shuffle at all); the novelty
    side reduces occurrences to (gram, doc) counts, takes each gram's
    first doc + its in-first-doc occurrence count with min/min_by (the
    occurrence-joining-back-to-firsts shuffle_hash join AND the
    count_distinct Expand leg of the old plan are gone), and collapses
    onto 10 decile rows joined back broadcast. The 1-row doc count
    broadcasts."""
    from snackfs_spark.operators.dedup import shingles_df

    grams = shingles_df(spark, sf_dir, distinct=False).withColumnRenamed(
        "shingle", "g"
    )
    grams = grams.localCheckpoint(eager=False)  # feeds totals AND novelty
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = (
        grams.crossJoin(F.broadcast(n))
        .groupBy(F.expr("(10 * doc_id) div n_docs").cast("long").alias("decile"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    )
    # per gram: first doc + how many occurrences it contributed there
    # (every occurrence inside the first doc is novel, by definition)
    novel = (
        grams.groupBy("g", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("g")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.min_by("c", "doc_id").alias("novel_c"),
        )
        .crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("(10 * first_doc) div n_docs").cast("long").alias("decile")
        )
        .agg(
            F.sum("novel_c").cast("long").alias("novel_grams"),
            F.count(F.lit(1)).cast("long").alias("new_types"),
        )
    )
    return (
        totals.join(F.broadcast(novel), "decile", "left")
        .select(
            "decile",
            "n_grams",
            F.coalesce(F.col("novel_grams"), F.lit(0))
            .cast("long")
            .alias("novel_grams"),
            F.coalesce(F.col("new_types"), F.lit(0))
            .cast("long")
            .alias("new_types"),
            F.expr(
                "(1000 * coalesce(novel_grams, 0L)) div n_grams"
            )
            .cast("long")
            .alias("novelty_permille"),
        )
    )


# -------------------------------------------------------- token burstiness ----
#
# Church-Gale burstiness: content words arrive in BURSTS (a document
# about a topic repeats its topical words), function words arrive
# uniformly. The dispersion statistic is the variance-to-mean ratio of
# per-document counts — computed here as the exact rational pair
# (var_num, var_den) with var_num = n*sum(c^2) - (sum c)^2 over ALL
# n docs (zero counts included via the corpus doc total, never
# materialized) and var_den = n * sum(c) — VMR > 1 is bursty. The
# curation signal that separates topical vocabulary from boilerplate
# glue when building keyword filters or stopword lists.
BURST_MIN_COUNT = 50  # report tokens with corpus count >= 50


@register(
    "text_burstiness",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    per_doc AS (
      SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM dw WHERE word <> '' GROUP BY word, doc_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    stats AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS n_docs_present,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM per_doc GROUP BY word
    )
    SELECT word, n_docs_present, total,
           CAST(n.n_docs * sum_sq - total * total AS BIGINT) AS var_num,
           CAST(n.n_docs * total AS BIGINT) AS var_den,
           CAST(n.n_docs * sum_sq - total * total AS DOUBLE)
             / CAST(n.n_docs * total AS DOUBLE) AS vmr
    FROM stats CROSS JOIN n
    WHERE total >= {BURST_MIN_COUNT}
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token Church-Gale burstiness over the corpus: document
    presence, total count, the exact variance-to-mean rational
    (var_num, var_den; zero-count docs folded in algebraically via the
    corpus doc total) and its one-division VMR double — VMR >> 1 marks
    topical/bursty vocabulary, VMR ~ 1 uniform glue.

    Scale: one exploded scan collapses map-side onto (word, doc) then
    word keys — the same two-level shuffle class as TF-IDF; the 1-row
    doc count broadcasts; zero-count documents are never materialized
    (the n*sum_sq - total^2 identity absorbs them)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    per_doc = dw.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    stats = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_present"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    return (
        stats.filter(F.col("total") >= BURST_MIN_COUNT)
        .crossJoin(F.broadcast(n))
        .select(
            "word",
            "n_docs_present",
            "total",
            (F.col("n_docs") * F.col("sum_sq") - F.col("total") * F.col("total"))
            .cast("long")
            .alias("var_num"),
            (F.col("n_docs") * F.col("total")).cast("long").alias("var_den"),
            (
                (F.col("n_docs") * F.col("sum_sq") - F.col("total") * F.col("total")).cast(
                    "double"
                )
                / (F.col("n_docs") * F.col("total")).cast("double")
            ).alias("vmr"),
        )
    )


# ------------------------------------------------- Zipf octave profile ----
#
# Rank-frequency diagnostic: under Zipf's law (f ~ 1/rank) the token
# mass per rank OCTAVE (ranks [2^k, 2^(k+1))) is roughly constant
# (sum of 1/r over an octave ~ ln 2), so the octave profile is a
# log-free, integer-exact test of Zipfian shape — the corpus-health
# check run after tokenizer or filter changes (a collapsing tail means
# boilerplate flooding; a fat head means dedup failure). Ranks are
# assigned two-phase (per-frequency-group row_number + a prefix sum
# over the DISTINCT-frequency relation) so no global window ever sees
# the vocab relation; octave = length(bin(rank)) - 1, the same
# binary-length bucket trick as text_vocab_growth.
ZIPF_TIE_ORDER = "word ASC"  # deterministic within equal frequencies


@register(
    "text_zipf_octaves",
    oracle="""
    WITH wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    groups AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_words FROM wf GROUP BY c),
    pref AS (
      SELECT c,
             CAST(COALESCE(SUM(n_words) OVER (ORDER BY c DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before
      FROM groups
    ),
    ranked AS (
      SELECT wf.word, wf.c,
             pref.before + ROW_NUMBER() OVER (PARTITION BY wf.c ORDER BY wf.word ASC)
               AS rank
      FROM wf JOIN pref USING (c)
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM wf),
    oct AS (
      SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS octave,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c) AS BIGINT) AS tokens,
             CAST(MAX(c) AS BIGINT) AS max_freq
      FROM ranked GROUP BY 1
    )
    SELECT octave,
           CAST(1 << octave AS BIGINT) AS rank_lo,
           n_types, tokens, max_freq,
           CAST((1000000 * tokens) // total_tokens AS BIGINT) AS share_ppm,
           CAST(COALESCE((1000 * tokens) //
                NULLIF(lag(tokens) OVER (ORDER BY octave), 0), 0)
                AS BIGINT) AS ratio_prev_permille
    FROM oct CROSS JOIN tot
    """,
)
def text_zipf_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token mass per rank octave (ranks [2^k, 2^(k+1))): types, tokens,
    corpus share ppm, and the octave-over-octave mass ratio — flat
    ratios ~1000 are Zipf-healthy; the integer-exact substrate of the
    log-log rank-frequency plot.

    Scale: the corpus collapses map-side onto the vocab relation; ranks
    come from a per-frequency-group row_number (partitioned window)
    plus a prefix sum over the DISTINCT-frequency relation (bounded by
    the largest count, ~sqrt-of-corpus distinct values in practice) —
    the score-group decomposition of DESIGN.md, so no global window
    touches the vocab. The final profile is <= 64 rows."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # vocab-sized; feeds the frequency groups, the rank join AND the
    # token total — unchckpointed the tokenize + vocab collapse ran
    # three times (r11 opt: 3 scans -> 1)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    groups = wf.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_words"))
    wpref = Window.partitionBy(F.lit(1)).orderBy(F.col("c").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = groups.select(
        "c", F.coalesce(F.sum("n_words").over(wpref), F.lit(0)).cast("long").alias("before")
    )
    wgrp = Window.partitionBy("c").orderBy(F.col("word").asc())
    ranked = wf.join(pref, "c").select(
        "c", (F.col("before") + F.row_number().over(wgrp)).alias("rank")
    )
    tot = wf.agg(F.sum("c").cast("long").alias("total_tokens"))
    oct_ = ranked.groupBy(
        (F.length(F.bin("rank")) - 1).cast("long").alias("octave")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("tokens"),
        F.max("c").cast("long").alias("max_freq"),
    )
    wlag = Window.partitionBy(F.lit(1)).orderBy("octave")
    return (
        oct_.crossJoin(F.broadcast(tot))
        .withColumn("prev_tokens", F.lag("tokens").over(wlag))
        .select(
            "octave",
            F.expr("CAST(shiftleft(1, CAST(octave AS INT)) AS BIGINT)").alias("rank_lo"),
            "n_types",
            "tokens",
            "max_freq",
            F.expr("(1000000 * tokens) div total_tokens").cast("long").alias("share_ppm"),
            F.coalesce(
                F.expr("(1000 * tokens) div nullif(prev_tokens, 0)"), F.lit(0)
            )
            .cast("long")
            .alias("ratio_prev_permille"),
        )
    )


# ------------------------------------------- in-engine perceptron trainer ----
#
# Supervised in-engine training, completing the trainer family (k-means
# clusters, BPE learns merges — this learns a linear classifier): a
# fixed-round batch perceptron with a 1/round decayed step, DISTILLING
# the text_quality_score rule gate (n_chars in [100,500] AND n_tokens
# >= 20) into one linear scorer — the rule-cascade -> linear-classifier
# distillation step a pipeline runs before scoring petabytes, because a
# dot product is cheaper than a rule DAG and generalizes to soft
# thresholds. The two-sided length rule is made linearly separable by
# an explicit centered quadratic feature (n_chars - 300)^2 // 100 (the
# kernel trick, spelled out); measured on the driver corpus the trainer
# goes 500 -> 81 -> ... -> ~22 errors vs an 81-error majority baseline.
#
# All arithmetic is exact int64. The decayed step uses FLOOR division
# of the (possibly negative) gradient: Spark `div` truncates toward
# zero and DuckDB `//` floors, so both engines compute
# (g - pmod(g, r)) / r with pmod >= 0 — the engine-portable floor
# documented in DESIGN.md's negative-division rule.
PERC_ROUNDS = 8
PERC_CENTER = 300  # midpoint of the quality gate's [100, 500] char interval
PERC_QSCALE = 100  # quadratic feature scale: (n-300)^2 // 100
PERC_NFEAT = 3  # bias, centered quadratic chars, tokens


def _perc_feats_sql() -> str:
    return f"""
    SELECT doc_id,
           CASE WHEN n_chars BETWEEN 100 AND 500
                     AND len(string_split(text, ' ')) >= 20
                THEN 1 ELSE -1 END AS y,
           CAST(100 AS BIGINT) AS x0,
           CAST((n_chars - {PERC_CENTER}) * (n_chars - {PERC_CENTER})
                // {PERC_QSCALE} AS BIGINT) AS x1,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS x2
    FROM documents"""


def _perc_oracle() -> str:
    js = range(PERC_NFEAT)
    zero_w = ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in js)
    parts = [f"WITH feats AS ({_perc_feats_sql()}),", f"w0 AS (SELECT {zero_w}),"]
    for r in range(1, PERC_ROUNDS + 1):
        margin = " + ".join(f"w{r - 1}.w{j} * feats.x{j}" for j in js)
        gsums = ", ".join(
            f"CAST(COALESCE(SUM(feats.y * feats.x{j}), 0) AS BIGINT) AS g{j}"
            for j in js
        )
        parts.append(
            f"s{r} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_errors, {gsums} "
            f"FROM feats CROSS JOIN w{r - 1} "
            f"WHERE feats.y * ({margin}) <= 0),"
        )
        # engine-portable floor(g / r): subtract the nonnegative pmod first
        ws = ", ".join(
            f"CAST(w{r - 1}.w{j} + (s{r}.g{j} - ((s{r}.g{j} % {r}) + {r}) % {r}) / {r}"
            f" AS BIGINT) AS w{j}"
            for j in js
        )
        parts.append(f"w{r} AS (SELECT {ws} FROM w{r - 1} CROSS JOIN s{r}),")
    fmargin = " + ".join(f"w{PERC_ROUNDS}.w{j} * feats.x{j}" for j in js)
    parts.append(
        f"sf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_errors "
        f"FROM feats CROSS JOIN w{PERC_ROUNDS} "
        f"WHERE feats.y * ({fmargin}) <= 0)"
    )
    wcols = ", ".join(f"w{j}" for j in js)
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, s{r}.n_errors, {wcols} "
        f"FROM s{r} CROSS JOIN w{r}"
        for r in range(1, PERC_ROUNDS + 1)
    ]
    selects.append(
        f"SELECT CAST({PERC_ROUNDS + 1} AS BIGINT) AS round, sf.n_errors, {wcols} "
        f"FROM sf CROSS JOIN w{PERC_ROUNDS}"
    )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("text_quality_perceptron", oracle=_perc_oracle())
def text_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round decayed batch perceptron trained IN-PLAN to distill
    the text_quality_score rule gate into one linear scorer over (bias,
    centered-quadratic chars, tokens): one row per round with the
    misclassified count under the pre-update weights and the updated
    integer weight vector, plus a final evaluation row (round R+1)
    scoring the learned weights — the engine's supervised-trainer verb
    next to k-means (unsupervised) and BPE (tokenizer).

    Scale: the corpus is scanned ONCE and collapsed onto the DISTINCT
    integer feature vectors with multiplicities (groupBy (y, x1, x2) →
    cnt, map-side combined; x0 is a constant) — the sufficient statistic
    for every round, since each round only needs Σ cnt and Σ cnt·y·xj
    over the misclassified subset (exact integer algebra, identical
    totals). Each round is then one aggregate over the BOUNDED
    checkpointed feature-histogram relation producing a 1-row weight
    relation broadcast into the next round's margin — the
    bpe_learn_merges posture with the R corpus re-passes gone: zero
    driver collects, per-round state is PERC_NFEAT integers, ONE corpus
    pass total, no sort or window anywhere."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    js = range(PERC_NFEAT)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    feats = (
        docs.select(
            F.when(
                F.col("n_chars").between(100, 500) & (n_tokens >= 20), F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("y"),
            F.lit(100).cast("long").alias("x0"),
            F.expr(
                f"CAST((n_chars - {PERC_CENTER}) * (n_chars - {PERC_CENTER})"
                f" div {PERC_QSCALE} AS BIGINT)"
            ).alias("x1"),
            n_tokens.alias("x2"),
        )
        .groupBy("y", "x0", "x1", "x2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    w = spark.range(1).select(*[F.lit(0).cast("long").alias(f"w{j}") for j in js])

    def margin():
        return F.col("y") * sum(F.col(f"w{j}") * F.col(f"x{j}") for j in js)

    rounds = []
    for r in range(1, PERC_ROUNDS + 1):
        stats = (
            feats.crossJoin(F.broadcast(w))
            .filter(margin() <= 0)
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0))
                .cast("long")
                .alias("n_errors"),
                *[
                    F.coalesce(
                        F.sum(F.col("cnt") * F.col("y") * F.col(f"x{j}")),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias(f"g{j}")
                    for j in js
                ],
            )
        )
        step = (
            w.crossJoin(F.broadcast(stats))
            .select(
                "n_errors",
                *[
                    F.expr(
                        f"CAST(w{j} + (g{j} - pmod(g{j}, {r})) div {r} AS BIGINT)"
                    ).alias(f"w{j}")
                    for j in js
                ],
            )
            .localCheckpoint(eager=False)
        )
        rounds.append(
            step.select(
                F.lit(r).cast("long").alias("round"),
                "n_errors",
                *[f"w{j}" for j in js],
            )
        )
        w = step.select(*[f"w{j}" for j in js])
    final = (
        feats.crossJoin(F.broadcast(w))
        .filter(margin() <= 0)
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_errors")
        )
    )
    rounds.append(
        w.crossJoin(F.broadcast(final)).select(
            F.lit(PERC_ROUNDS + 1).cast("long").alias("round"),
            "n_errors",
            *[f"w{j}" for j in js],
        )
    )
    out = rounds[0]
    for part in rounds[1:]:
        out = out.unionByName(part)
    return out


# --------------------------------------------- split-conformal calibration ----
#
# Split conformal prediction (Vovk; Papadopoulos 2002): the calibration
# half's (1-alpha) empirical quantile WITH the finite-sample (n+1)
# correction — k = ceil((1-alpha)(n+1)) — gives a threshold whose
# eval-half coverage is >= 1-alpha in expectation, distribution-free.
# The nonconformity score here is the shared stopword-permille quality
# proxy (functions/STOPWORD_PERMILLE), the calibration/eval split is the
# md5 doc split, and the k-th order statistic comes from the BOUNDED
# score histogram (scores live in 0..1000) — a prefix sum over <= 1001
# rows, never a corpus sort. Everything is exact integer algebra.
CONF_ALPHAS_PPM = (100000, 50000, 10000)  # 10%, 5%, 1% miscoverage


@register(
    "eval_conformal_threshold",
    oracle=f"""
    WITH scored AS (
      SELECT CAST({{STOP}} AS BIGINT) AS score,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS half
      FROM documents
    ),
    calib AS (SELECT score FROM scored WHERE half = 0),
    ev AS (SELECT score FROM scored WHERE half = 1),
    nh AS (
      SELECT CAST((SELECT COUNT(*) FROM calib) AS BIGINT) AS n_calib,
             CAST((SELECT COUNT(*) FROM ev) AS BIGINT) AS n_eval
    ),
    hist AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c FROM calib GROUP BY score),
    cum AS (
      SELECT score,
             CAST(SUM(c) OVER (ORDER BY score
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
      FROM hist
    ),
    alphas AS (SELECT unnest([{", ".join(str(a) for a in CONF_ALPHAS_PPM)}]) AS alpha_ppm),
    ks AS (
      SELECT alpha_ppm,
             CAST(((n_calib + 1) * (1000000 - alpha_ppm) + 999999) // 1000000
                  AS BIGINT) AS k,
             n_calib, n_eval
      FROM alphas CROSS JOIN nh
    ),
    thr AS (
      SELECT ks.alpha_ppm, ks.k, ks.n_calib, ks.n_eval,
             CAST(MIN(cum.score) AS BIGINT) AS threshold_score
      FROM ks JOIN cum ON cum.cum_n >= ks.k
      GROUP BY 1, 2, 3, 4
    ),
    ehist AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY score)
    SELECT thr.alpha_ppm, thr.n_calib, thr.k, thr.threshold_score, thr.n_eval,
           CAST(COALESCE(SUM(CASE WHEN ehist.score <= thr.threshold_score
                                  THEN ehist.c END), 0) AS BIGINT) AS n_covered,
           CAST((1000000 * COALESCE(SUM(CASE WHEN ehist.score <= thr.threshold_score
                                             THEN ehist.c END), 0))
                // thr.n_eval AS BIGINT) AS coverage_ppm
    FROM thr CROSS JOIN ehist
    GROUP BY 1, 2, 3, 4, 5
    """.replace("{STOP}", STOPWORD_PERMILLE_SQL),
)
def eval_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the stopword quality score: per
    miscoverage level alpha, the finite-sample-corrected threshold
    (k = ceil((1-alpha)(n+1))-th smallest calibration score) and its
    measured eval-half coverage — the distribution-free selective-
    prediction knob a filtering pipeline sets before scoring the corpus.

    Scale: ONE scan computes (score, half); both halves collapse onto
    the bounded 0..1000 score histogram, so the order statistic is a
    prefix sum over <= 1001 rows and coverage is a bounded hist-join —
    nothing downstream of the two histograms is data-proportional."""
    # ONE pass over the shared quality memo onto the bounded (score,
    # half) histogram (<= 2002 rows, checkpointed): the half counts, the
    # calibration prefix and the eval coverage all derive from it —
    # previously each of the four consumers re-ran the tokenize scan
    # (r11 opt: 4 scans -> 1, then the scan itself onto doc_quality_df)
    hist2 = (
        doc_quality_df(spark, sf_dir)
        .select(
            F.col("q").alias("score"),
            md5_bucket(F.col("doc_id").cast("string"), 2).alias("half"),
        )
        .groupBy("score", "half")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    calib = hist2.filter(F.col("half") == 0)
    ev = hist2.filter(F.col("half") == 1)
    nh = calib.agg(F.sum("c").cast("long").alias("n_calib")).crossJoin(
        ev.agg(F.sum("c").cast("long").alias("n_eval"))
    )
    hist = calib.select("score", "c")
    wcum = Window.partitionBy(F.lit(1)).orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("score", F.sum("c").over(wcum).cast("long").alias("cum_n"))
    alphas = spark.range(1).select(
        F.explode(F.array(*[F.lit(a) for a in CONF_ALPHAS_PPM])).alias("alpha_ppm")
    )
    ks = alphas.crossJoin(F.broadcast(nh)).select(
        "alpha_ppm",
        F.expr("((n_calib + 1) * (1000000 - alpha_ppm) + 999999) div 1000000")
        .cast("long")
        .alias("k"),
        "n_calib",
        "n_eval",
    )
    thr = (
        F.broadcast(ks)
        .join(cum, F.col("cum_n") >= F.col("k"))
        .groupBy("alpha_ppm", "k", "n_calib", "n_eval")
        .agg(F.min("score").cast("long").alias("threshold_score"))
    )
    ehist = ev.select("score", "c")
    return (
        F.broadcast(thr)
        .crossJoin(ehist)
        .groupBy("alpha_ppm", "n_calib", "k", "threshold_score", "n_eval")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("score") <= F.col("threshold_score"), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_covered")
        )
        .select(
            "alpha_ppm",
            "n_calib",
            "k",
            "threshold_score",
            "n_eval",
            "n_covered",
            F.expr("(1000000 * n_covered) div n_eval").cast("long").alias("coverage_ppm"),
        )
    )


# ------------------------------------------------ Poisson bootstrap CI ----
#
# Streaming-friendly bootstrap (Chamandy et al., "Estimating Uncertainty
# for Massive Data Streams" — the production A/B pattern): instead of
# resampling n-of-n (impossible in one pass), each replicate gives every
# doc an independent Poisson(1) weight; replicate statistics are then
# plain weighted aggregates computed in ONE scan for all B replicates.
# Weights are deterministic: u = md5_fp(doc_id '-' b) % 1e6 inverted
# through the fixed Poisson(1) CDF ppm table below (math constants, the
# BENFORD pattern). The percentile interval comes from ranking the B=32
# replicate means by their exact integer milli value (floor division —
# engine-portable) — rank 2 and rank 31, the ~93.8% percentile CI at
# this B. All arithmetic is exact int64.
BOOT_B = 32
# cumulative Poisson(1) CDF in ppm: P(X <= k) for k = 0..6; u above the
# last entry draws weight 7 (P ~ 8e-5 — the bounded tail).
BOOT_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)
_BOOT_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {p} THEN {k}" for k, p in enumerate(BOOT_CDF_PPM)
    )
    + f" ELSE {len(BOOT_CDF_PPM)} END"
)


@register(
    "eval_bootstrap_ci",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, CAST({{STOP}} AS BIGINT) AS score FROM documents
    ),
    expl AS (
      SELECT score, b,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS u
      FROM scored CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b)
    ),
    reps AS (
      SELECT CAST(b AS BIGINT) AS b,
             CAST(SUM({_BOOT_W_CASE}) AS BIGINT) AS sum_w,
             CAST(SUM(({_BOOT_W_CASE}) * score) AS BIGINT) AS score_wsum
      FROM expl GROUP BY b
    ),
    means AS (
      SELECT b, sum_w, score_wsum,
             CAST((1000 * score_wsum) // sum_w AS BIGINT) AS mean_x1000,
             ROW_NUMBER() OVER (ORDER BY (1000 * score_wsum) // sum_w, b) AS rnk
      FROM reps
    ),
    ci AS (
      SELECT CAST(MIN(CASE WHEN rnk = 2 THEN mean_x1000 END) AS BIGINT) AS ci_lo_x1000,
             CAST(MIN(CASE WHEN rnk = {BOOT_B - 1} THEN mean_x1000 END) AS BIGINT) AS ci_hi_x1000
      FROM means
    ),
    pt AS (
      SELECT CAST((1000 * SUM(score)) // COUNT(*) AS BIGINT) AS point_x1000
      FROM scored
    )
    SELECT means.b, means.sum_w, means.score_wsum, means.mean_x1000,
           pt.point_x1000, ci.ci_lo_x1000, ci.ci_hi_x1000
    FROM means CROSS JOIN ci CROSS JOIN pt
    """.replace("{STOP}", STOPWORD_PERMILLE_SQL),
)
def eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the corpus mean quality score:
    B=32 deterministic Poisson(1)-weighted replicates computed in one
    scan, each reported with its weighted mean (exact milli), plus the
    point estimate and the rank-2/rank-31 percentile interval — the
    error bar a curation dashboard puts on every corpus statistic.

    Scale: the scan explodes x32 but collapses map-side onto exactly B
    keys (partial aggregation), so the shuffle carries B rows per
    partition; ranking and the CI run on the bounded 32-row replicate
    relation. Weights are md5-derived in codegen — no RNG state, so the
    result is partition-count independent."""
    scored = doc_quality_df(spark, sf_dir).select(
        "doc_id", F.col("q").alias("score")
    )
    expl = scored.select(
        "score",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        "doc_id",
    ).select(
        "score",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("-"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        ).alias("u"),
    )
    # ONE linear pipeline (r11 opt: previously the replicate relation
    # was consumed three times — ranked means, CI and a separate
    # point-estimate scan — re-running the x32-exploded tokenize per
    # consumer). The unweighted (sum, count) legs ride the same
    # aggregate (every b-group sees each doc exactly once), the 32-row
    # relation folds to one sorted array, and rank-2/rank-31 selection,
    # the point estimate and the final explode are bounded HOF algebra:
    # array_sort on struct (m, b) IS the old row_number(ORDER BY mean,
    # b) order.
    reps = expl.groupBy("b").agg(
        F.sum(F.expr(_BOOT_W_CASE)).cast("long").alias("sum_w"),
        F.sum(F.expr(f"({_BOOT_W_CASE}) * score")).cast("long").alias("score_wsum"),
        F.sum("score").cast("long").alias("score_sum"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    arr = reps.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.expr("(1000 * score_wsum) div sum_w")
                    .cast("long")
                    .alias("m"),
                    F.col("b").cast("long").alias("b"),
                    F.col("sum_w").alias("sum_w"),
                    F.col("score_wsum").alias("score_wsum"),
                    F.col("score_sum").alias("score_sum"),
                    F.col("n_docs").alias("n_docs"),
                )
            )
        ).alias("arr")
    )
    pt0 = "filter(arr, x -> x.b = 0)[0]"
    return arr.select(
        F.explode("arr").alias("e"),
        F.expr("arr[1].m").cast("long").alias("ci_lo"),
        F.expr(f"arr[{BOOT_B - 2}].m").cast("long").alias("ci_hi"),
        F.expr(f"(1000 * {pt0}.score_sum) div {pt0}.n_docs")
        .cast("long")
        .alias("pt"),
    ).select(
        F.col("e.b").alias("b"),
        F.col("e.sum_w").alias("sum_w"),
        F.col("e.score_wsum").alias("score_wsum"),
        F.col("e.m").alias("mean_x1000"),
        F.col("pt").alias("point_x1000"),
        F.col("ci_lo").alias("ci_lo_x1000"),
        F.col("ci_hi").alias("ci_hi_x1000"),
    )


# ----------------------------------------------- RAKE keyword extraction ----
#
# RAKE (Rose et al. 2010, "Rapid Automatic Keyword Extraction"):
# candidate phrases are maximal stopword-free token runs; each word
# scores deg/freq where freq counts its occurrences in candidates and
# deg adds the length of every candidate containing it (co-occurrence
# incl. self); a phrase scores the sum of its words' scores. The
# integer variant scores words as (1000*deg) div freq — floor-exact in
# both engines — so phrase scores are exact integer milli-units (every
# occurrence of the same phrase text scores identically, since scores
# are corpus-global). Top-RAKE_TOPK phrases by (score, text) with full
# tie-break.
RAKE_STOPS = ("the", "a", "and", "with", "of", "in")  # the shared stopword set
RAKE_TOPK = 15


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i AS pos, words[i + 1] AS w,
             CASE WHEN words[i + 1] IN ({", ".join(f"'{w}'" for w in RAKE_STOPS)})
                  OR words[i + 1] = '' THEN 1 ELSE 0 END AS is_stop
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(range(0, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    ),
    marked AS (
      -- the island id must be computed over ALL tokens (stops included)
      -- BEFORE dropping the stop rows, or runs merge across stopwords
      SELECT doc_id, pos, w, island FROM (
        SELECT doc_id, pos, w, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS island
        FROM toks
      ) WHERE is_stop = 0
    ),
    members AS (
      SELECT doc_id, island, pos, w,
             CAST(COUNT(*) OVER (PARTITION BY doc_id, island) AS BIGINT) AS plen
      FROM marked
    ),
    wstats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM members GROUP BY w
    ),
    wscore AS (
      SELECT w, CAST((1000 * deg) // freq AS BIGINT) AS ws FROM wstats
    ),
    pscore AS (
      SELECT m.doc_id, m.island,
             string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
             CAST(MAX(m.plen) AS BIGINT) AS n_words,
             CAST(SUM(s.ws) AS BIGINT) AS score_x1000
      FROM members m JOIN wscore s ON s.w = m.w
      GROUP BY m.doc_id, m.island
    )
    SELECT phrase, n_words, n_occurrences, score_x1000 FROM (
      SELECT phrase, MAX(n_words) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             MAX(score_x1000) AS score_x1000,
             ROW_NUMBER() OVER (ORDER BY MAX(score_x1000) DESC, phrase) AS rn
      FROM pscore GROUP BY phrase
    ) WHERE rn <= {RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: maximal stopword-free phrase candidates,
    corpus-global deg/freq word scores in exact integer milli-units,
    phrase scores as member sums, top-K phrases with occurrence counts
    — the query-free keyword surfacer a corpus-exploration UI runs.

    Scale: phrase assembly is a PER-ROW higher-order fold over the
    token array (maximal stopword-free runs — the doc-keyed
    window-over-running-stop-count it replaces cost a corpus-wide
    Exchange + sort per consumer, paid twice because the token lineage
    deliberately isn't cached); word stats collapse onto the vocab
    relation; the phrase-score join is word-keyed shuffle work, and the
    final cut is a TakeOrdered heap — no global sort of the phrase
    relation."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    stops_sql = ", ".join(f"'{w}'" for w in RAKE_STOPS)
    # maximal runs of consecutive non-stop, non-empty tokens — exactly
    # the rows the old running-stop-count window kept, grouped the same
    islands = (
        "aggregate(split(text, ' '),"
        " named_struct('phr', CAST(array() AS ARRAY<ARRAY<STRING>>),"
        "              'cur', CAST(array() AS ARRAY<STRING>)),"
        f" (st, t) -> IF(t = '' OR t IN ({stops_sql}),"
        "   named_struct('phr', IF(size(st.cur) > 0,"
        "                          array_append(st.phr, st.cur), st.phr),"
        "                'cur', CAST(array() AS ARRAY<STRING>)),"
        "   named_struct('phr', st.phr, 'cur', array_append(st.cur, t))),"
        " st -> IF(size(st.cur) > 0, array_append(st.phr, st.cur), st.phr))"
    )
    # phrase INSTANCES: one row per stopword-free run, in doc order.
    # Recomputed per consumer (map-side only — no shuffle in the
    # lineage): materializing corpus-proportional token/phrase rows for
    # reuse blew the executor heap on the sf10 sweep.
    phrases = docs.select(
        "doc_id", F.posexplode(F.expr(islands)).alias("island", "toks")
    ).select(
        "doc_id",
        "island",
        F.array_join("toks", " ").alias("phrase"),
        F.size("toks").cast("long").alias("plen"),
    )
    members = phrases.select(
        "doc_id",
        "island",
        "phrase",
        "plen",
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wscore = (
        members.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select("w", F.expr("(1000 * deg) div freq").cast("long").alias("ws"))
        .localCheckpoint(eager=False)
    )
    pscore = (
        members.join(wscore.hint("shuffle_hash"), "w")
        .groupBy("doc_id", "island")
        .agg(
            F.first("phrase").alias("phrase"),
            F.max("plen").cast("long").alias("n_words"),
            F.sum("ws").cast("long").alias("score_x1000"),
        )
    )
    agg = pscore.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_x1000").cast("long").alias("score_x1000"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.col("score_x1000").desc(), F.col("phrase")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RAKE_TOPK)
        .select("phrase", "n_words", "n_occurrences", "score_x1000")
    )


# ---------------------------------------------- stop-list induction ----
#
# Data-driven stopword induction (the Church-Gale application): a word
# is function-glue when it is EVERYWHERE (high document frequency) and
# arrives UNIFORMLY (variance-to-mean ratio near 1, i.e. not bursty).
# Both tests are exact rationals over the same (word, doc) collapse the
# burstiness operator uses: df_permille = 1000*n_docs_present div
# n_docs, and the VMR gate var_num <= STOP_VMR_MAX * var_den with the
# zero-count-absorbing identity var_num = n*sum_sq - total^2. The
# induced list is what BM25/RAKE/boilerplate passes should consume when
# a corpus is not English — the engine derives its own glue instead of
# trusting a hand list.
STOP_DF_MIN_PERMILLE = 500  # in at least half the documents
STOP_VMR_MAX = 2            # variance/mean <= 2: near-uniform arrival


@register(
    "text_stop_list_induction",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    per_doc AS (
      SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM dw WHERE word <> '' GROUP BY word, doc_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    stats AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS n_docs_present,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM per_doc GROUP BY word
    )
    SELECT word, n_docs_present, total,
           CAST((1000 * n_docs_present) // n.n_docs AS BIGINT) AS df_permille,
           CAST(n.n_docs * sum_sq - total * total AS BIGINT) AS var_num,
           CAST(n.n_docs * total AS BIGINT) AS var_den,
           CAST(CASE WHEN (1000 * n_docs_present) // n.n_docs
                          >= {STOP_DF_MIN_PERMILLE}
                      AND n.n_docs * sum_sq - total * total
                          <= {STOP_VMR_MAX} * n.n_docs * total
                     THEN 1 ELSE 0 END AS BIGINT) AS is_stopword
    FROM stats CROSS JOIN n
    """,
)
def text_stop_list_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Induced stopword list: per word, document frequency permille and
    the exact burstiness rational (var_num, var_den); flagged as
    stopword when df >= 50% AND VMR <= 2 (everywhere + uniform) — the
    corpus-derived glue list the ranking and boilerplate passes should
    key on for non-English corpora.

    Scale: identical shuffle class to text_burstiness — one exploded
    scan collapsing map-side onto (word, doc) then word keys, the 1-row
    doc count broadcast, zero-count docs absorbed algebraically."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    per_doc = dw.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    stats = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_present"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    return stats.crossJoin(F.broadcast(n)).select(
        "word",
        "n_docs_present",
        "total",
        F.expr("(1000 * n_docs_present) div n_docs").cast("long").alias("df_permille"),
        (F.col("n_docs") * F.col("sum_sq") - F.col("total") * F.col("total"))
        .cast("long")
        .alias("var_num"),
        (F.col("n_docs") * F.col("total")).cast("long").alias("var_den"),
        F.when(
            (F.expr("(1000 * n_docs_present) div n_docs") >= STOP_DF_MIN_PERMILLE)
            & (
                F.col("n_docs") * F.col("sum_sq") - F.col("total") * F.col("total")
                <= F.lit(STOP_VMR_MAX) * F.col("n_docs") * F.col("total")
            ),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_stopword"),
    )


# ------------------------------------------------ McNemar paired test ----
#
# Paired-classifier comparison (McNemar 1947 — the correct test when
# two models score the SAME examples; Cohen's kappa above measures
# agreement, this measures which one is better): against the
# text_quality_score gate as ground truth, labeler A = stopword
# permille >= 300, labeler B = whitespace token count >= 25. Only the
# discordant cells matter: b = A right & B wrong, c = B right & A
# wrong; the statistic (b-c)^2/(b+c) is the exact rational
# (mc_num, mc_den), flagged at the df=1 alpha=.05 critical value 3.84
# by the cross-multiplied compare 100*num > 384*den. One scan, one
# 1-row fold.
MCNEMAR_A_STOP_MIN = 300
MCNEMAR_B_TOKENS_MIN = 25
MCNEMAR_CRIT_X100 = 384


@register(
    "eval_mcnemar_paired",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN n_chars BETWEEN 100 AND 500
                       AND len(string_split(text, ' ')) >= 20
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN {STOPWORD_PERMILLE_SQL} >= {MCNEMAR_A_STOP_MIN}
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN len(string_split(text, ' ')) >= {MCNEMAR_B_TOKENS_MIN}
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b_cell,
             CAST(SUM(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END) AS BIGINT) AS c_cell,
             CAST(SUM(CASE WHEN a = y THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
             CAST(SUM(CASE WHEN b = y THEN 1 ELSE 0 END) AS BIGINT) AS b_correct
      FROM scored
    )
    SELECT n, b_cell, c_cell,
           CAST((1000000 * a_correct) // n AS BIGINT) AS a_acc_ppm,
           CAST((1000000 * b_correct) // n AS BIGINT) AS b_acc_ppm,
           CAST((b_cell - c_cell) * (b_cell - c_cell) AS BIGINT) AS mc_num,
           CAST(greatest(b_cell + c_cell, 1) AS BIGINT) AS mc_den,
           CAST((b_cell - c_cell) * (b_cell - c_cell) AS DOUBLE)
             / greatest(b_cell + c_cell, 1) AS mcnemar,
           CAST(CASE WHEN 100 * (b_cell - c_cell) * (b_cell - c_cell)
                          > {MCNEMAR_CRIT_X100} * greatest(b_cell + c_cell, 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM cells
    """,
)
def eval_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test of two cheap quality labelers against the
    rule-gate truth: the discordant cells b and c, per-labeler accuracy
    ppm, the exact rational statistic (b-c)^2/(b+c) with its double,
    and the alpha=.05 significance flag by cross-multiplied compare —
    the is-the-new-filter-actually-better readout for same-corpus
    comparisons, where kappa only measures agreement.

    Scale: ONE scan folding map-side into a single 5-counter row;
    everything after is 1-row algebra."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    scored = docs.select(
        F.when(F.col("n_chars").between(100, 500) & (n_tokens >= 20), 1)
        .otherwise(0)
        .alias("y"),
        F.when(F.expr(STOPWORD_PERMILLE_SPARK) >= MCNEMAR_A_STOP_MIN, 1)
        .otherwise(0)
        .alias("a"),
        F.when(n_tokens >= MCNEMAR_B_TOKENS_MIN, 1).otherwise(0).alias("b"),
    )
    cells = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("b_cell"),
        F.sum(F.when((F.col("b") == F.col("y")) & (F.col("a") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("c_cell"),
        F.sum(F.when(F.col("a") == F.col("y"), 1).otherwise(0)).cast("long").alias("a_correct"),
        F.sum(F.when(F.col("b") == F.col("y"), 1).otherwise(0)).cast("long").alias("b_correct"),
    )
    d = F.col("b_cell") - F.col("c_cell")
    den = F.greatest(F.col("b_cell") + F.col("c_cell"), F.lit(1))
    return cells.select(
        "n",
        "b_cell",
        "c_cell",
        F.expr("(1000000 * a_correct) div n").cast("long").alias("a_acc_ppm"),
        F.expr("(1000000 * b_correct) div n").cast("long").alias("b_acc_ppm"),
        (d * d).cast("long").alias("mc_num"),
        den.cast("long").alias("mc_den"),
        ((d * d).cast("double") / den).alias("mcnemar"),
        F.when(F.lit(100) * d * d > F.lit(MCNEMAR_CRIT_X100) * den, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant"),
    )


# --------------------------------------------- lang-id confusion matrix ----
#
# Classifier eval for the lang-id heuristic: the (label, predicted)
# confusion matrix with per-label precision/recall in exact ppm — the
# readout that says WHERE the cheap classifier fails (which languages
# it confuses), where accuracy alone says only THAT it fails. Shares
# the exact prediction expression with text_lang_id (same CASE, same
# tie order), so the matrix audits the shipped classifier, not a copy.


@register(
    "eval_lang_confusion",
    oracle=(
        "WITH pred AS (SELECT lang, CASE "
        + " ".join(
            f"WHEN {_marker_count_sql(lang)} >= greatest("
            + ", ".join(_marker_count_sql(o) for o in LANG_MARKERS)
            + f") THEN '{lang}'"
            for lang in LANG_MARKERS
        )
        + """ ELSE 'und' END AS predicted FROM documents),
    cells AS (
      SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, predicted
    ),
    margins AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS label_total FROM cells GROUP BY lang
    ),
    pmargins AS (
      SELECT predicted, CAST(SUM(n) AS BIGINT) AS pred_total
      FROM cells GROUP BY predicted
    )
    SELECT c.lang, c.predicted, c.n,
           m.label_total, p.pred_total,
           CAST((1000000 * c.n) // m.label_total AS BIGINT) AS recall_share_ppm,
           CAST((1000000 * c.n) // p.pred_total AS BIGINT) AS precision_share_ppm
    FROM cells c JOIN margins m ON m.lang = c.lang
    JOIN pmargins p ON p.predicted = c.predicted
    """
    ),
)
def eval_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the shipped lang-id heuristic against the
    label column: per (label, predicted) cell the count and its share
    of the label row (recall decomposition) and predicted column
    (precision decomposition), in exact ppm — the which-languages-
    confuse readout behind any decision to upgrade the classifier.

    Scale: one scan collapsing map-side onto |langs|² cells; margins
    and shares are bounded-relation algebra (forced broadcasts safe by
    construction)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = {lang: _marker_count_spark(lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(counts[lang] >= best, F.lit(lang)).otherwise(pred)
    cells = docs.select("lang", pred.alias("predicted")).groupBy(
        "lang", "predicted"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    margins = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("label_total"))
    pmargins = cells.groupBy("predicted").agg(
        F.sum("n").cast("long").alias("pred_total")
    )
    return (
        cells.join(F.broadcast(margins), "lang")
        .join(F.broadcast(pmargins), "predicted")
        .select(
            "lang",
            "predicted",
            "n",
            "label_total",
            "pred_total",
            F.expr("(1000000 * n) div label_total").cast("long").alias("recall_share_ppm"),
            F.expr("(1000000 * n) div pred_total").cast("long").alias("precision_share_ppm"),
        )
    )


# ---------------------------------------------------- readability ----
#
# Flesch reading ease as an exact rational: with w words, s sentences
# and sy syllable proxies (vowel runs — the standard cheap syllable
# estimator), FRE = 206.835 - 1.015 w/s - 84.6 sy/w is published as
# the integer pair (fre_num, fre_den) over the common denominator
# 1000*s*w — fre_num = 206835*s*w - 1015*w^2 - 84600*sy*s — plus its
# one-division double. Sentence segmentation falls back to 25-word
# blocks when the text has no terminal punctuation (this corpus — the
# fallback keeps the metric defined and deterministic; a real corpus
# uses the punctuation count). The quality family's readability rung,
# next to the stopword and repetition scores.
READ_FALLBACK_WORDS = 25


@register(
    "text_readability",
    oracle=f"""
    SELECT doc_id,
           CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(sy AS BIGINT) AS n_syllables,
           CAST(206835 * s * w - 1015 * w * w - 84600 * sy * s AS BIGINT) AS fre_num,
           CAST(1000 * s * w AS BIGINT) AS fre_den,
           CAST(206835 * s * w - 1015 * w * w - 84600 * sy * s AS DOUBLE)
             / (1000 * s * w) AS fre
    FROM (
      SELECT doc_id,
             greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS w,
             greatest(len(regexp_extract_all(text, '[.!?]')),
                      (greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)
                       + {READ_FALLBACK_WORDS - 1}) // {READ_FALLBACK_WORDS}) AS s,
             len(regexp_extract_all(text, '[aeiou]+')) AS sy
      FROM documents
    )
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document as the exact rational
    (fre_num, fre_den) with its one-division double, from whitespace
    words, punctuation sentences (25-word fallback blocks on
    punctuation-free text) and vowel-run syllable proxies — the
    readability rung of the quality battery.

    Scale: pure per-row column arithmetic (regexp counts are codegen);
    zero shuffle, runs at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.greatest(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")), F.lit(1)
    )
    s = F.greatest(
        F.regexp_count("text", F.lit("[.!?]")),
        F.expr(
            f"(greatest(size(filter(split(text, ' '), t -> t != '')), 1)"
            f" + {READ_FALLBACK_WORDS - 1}) div {READ_FALLBACK_WORDS}"
        ),
    )
    sy = F.regexp_count("text", F.lit("[aeiou]+"))
    out = docs.select(
        "doc_id",
        w.cast("long").alias("w"),
        s.cast("long").alias("s"),
        sy.cast("long").alias("sy"),
    )
    num = (
        F.lit(206835) * F.col("s") * F.col("w")
        - F.lit(1015) * F.col("w") * F.col("w")
        - F.lit(84600) * F.col("sy") * F.col("s")
    )
    den = F.lit(1000) * F.col("s") * F.col("w")
    return out.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("sy").alias("n_syllables"),
        num.cast("long").alias("fre_num"),
        den.cast("long").alias("fre_den"),
        (num.cast("double") / den).alias("fre"),
    )


# --------------------------------------------- boolean retrieval ----
#
# Boolean query evaluation over the inverted-index relation: the
# AND/AND-NOT connectives a retrieval stack needs next to the ranked
# BM25 path. The query terms are DATA-DERIVED (df ranks 5, 6 and 7 —
# below the stopword head, so the result set is selective but
# non-empty at every sf), making the whole operator reproducible in
# both engines with zero literals. Evaluation is pure set algebra on
# the (token, doc_id) postings: conjunction = per-doc flag counts over
# the 3-term broadcast-filtered postings, negation = the flag being
# zero — one shuffle, no distinct-heavy intersections.
BOOL_RANKS = (5, 6, 7)  # (term_a AND term_b AND NOT term_not) by df rank


@register(
    "retrieval_boolean_query",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
      FROM tf GROUP BY token
    ),
    q AS (
      SELECT MAX(CASE WHEN rnk = {BOOL_RANKS[0]} THEN token END) AS ta,
             MAX(CASE WHEN rnk = {BOOL_RANKS[1]} THEN token END) AS tb,
             MAX(CASE WHEN rnk = {BOOL_RANKS[2]} THEN token END) AS tn
      FROM ranked
    ),
    hits AS (
      SELECT tf.doc_id,
             SUM(CASE WHEN tf.token = q.ta THEN tf.tf ELSE 0 END) AS tf_a,
             SUM(CASE WHEN tf.token = q.tb THEN tf.tf ELSE 0 END) AS tf_b,
             SUM(CASE WHEN tf.token = q.tn THEN tf.tf ELSE 0 END) AS tf_n
      FROM tf CROSS JOIN q
      WHERE tf.token IN (q.ta, q.tb, q.tn)
      GROUP BY tf.doc_id
    )
    SELECT h.doc_id, q.ta AS term_a, q.tb AS term_b, q.tn AS term_not,
           CAST(h.tf_a AS BIGINT) AS tf_a, CAST(h.tf_b AS BIGINT) AS tf_b
    FROM hits h CROSS JOIN q
    WHERE h.tf_a > 0 AND h.tf_b > 0 AND h.tf_n = 0
    """,
)
def retrieval_boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (term_a AND term_b AND NOT term_not, terms =
    df-ranks 5/6/7): matching doc_ids with their per-term tfs — the
    set-algebra query class next to the ranked BM25 path.

    Scale: the postings explode collapses map-side onto (token, doc);
    the 3 query terms arrive as a 1-row broadcast, so the postings
    filter is a broadcast join cutting the relation to 3 tokens BEFORE
    the doc-keyed conjunction aggregate (itself map-side combining);
    negation costs nothing extra — it is the same flag aggregate read
    as = 0. No distinct-set intersections, no per-term passes."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    wr = Window.orderBy(F.count(F.lit(1)).desc(), F.col("token"))
    ranked = tf.groupBy("token").agg(F.row_number().over(wr).alias("rnk"))
    q = ranked.agg(
        F.max(F.when(F.col("rnk") == BOOL_RANKS[0], F.col("token"))).alias("ta"),
        F.max(F.when(F.col("rnk") == BOOL_RANKS[1], F.col("token"))).alias("tb"),
        F.max(F.when(F.col("rnk") == BOOL_RANKS[2], F.col("token"))).alias("tn"),
    )
    hits = (
        tf.crossJoin(F.broadcast(q))
        .filter(
            (F.col("token") == F.col("ta"))
            | (F.col("token") == F.col("tb"))
            | (F.col("token") == F.col("tn"))
        )
        .groupBy("doc_id", "ta", "tb", "tn")
        .agg(
            F.sum(F.when(F.col("token") == F.col("ta"), F.col("tf")).otherwise(0))
            .cast("long")
            .alias("tf_a"),
            F.sum(F.when(F.col("token") == F.col("tb"), F.col("tf")).otherwise(0))
            .cast("long")
            .alias("tf_b"),
            F.sum(F.when(F.col("token") == F.col("tn"), F.col("tf")).otherwise(0))
            .cast("long")
            .alias("tf_n"),
        )
    )
    return hits.filter(
        (F.col("tf_a") > 0) & (F.col("tf_b") > 0) & (F.col("tf_n") == 0)
    ).select(
        "doc_id",
        F.col("ta").alias("term_a"),
        F.col("tb").alias("term_b"),
        F.col("tn").alias("term_not"),
        "tf_a",
        "tf_b",
    )


# --------------------------------------------- phrase blocklist scan ----
#
# Dictionary / phrase matching at corpus scale: given a blocklist of
# 2-word phrases, tag every document with its matches and counts. The
# scalable form is NOT a per-row regex over the blocklist (that is
# O(corpus x |list|) row-at-a-time work); it is the bigram explode the
# graph/LM operators already use, equi-joined against the broadcast
# blocklist — matching cost rides the one tokenize pass and the join
# prunes to list hits before any aggregation. The blocklist here is
# DATA-DERIVED (the BLOCK_TOP most frequent bigrams) so both engines
# agree with zero literals; a real deployment broadcasts its curated
# list into the identical plan.
BLOCK_TOP = 5


@register(
    "text_blocklist_scan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS phrase
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    blocklist AS (
      SELECT phrase FROM (
        SELECT phrase, COUNT(*) AS c FROM grams GROUP BY phrase
      ) QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, phrase) <= {BLOCK_TOP}
    )
    SELECT g.doc_id, g.phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM grams g JOIN blocklist b ON b.phrase = g.phrase
    GROUP BY g.doc_id, g.phrase
    """,
)
def text_blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist scan: per (document, blocked phrase) the
    occurrence count, for the BLOCK_TOP most frequent 2-word phrases —
    the dictionary-matching class (brand terms, banned phrases, attack
    strings) next to the regex PII scan.

    Scale: ONE tokenize pass produces bigrams as a zero-shuffle
    zip_with projection; the blocklist is a broadcast equi-join that
    prunes to hits BEFORE the (doc, phrase) count collapses map-side.
    Cost is the scan + a hits-sized shuffle — independent of blocklist
    size up to broadcast limits, with the bigram-explode fan-out shared
    with the LM/graph operators."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("phrase"),
    ).filter(~F.col("phrase").startswith(" ") & ~F.col("phrase").endswith(" "))
    # top-k via orderBy+limit (TakeOrderedAndProject), NOT row_number
    # over an unpartitioned Window — the old shape moved EVERY distinct
    # phrase count to one partition to rank it (r12 optimization; same
    # rows: row_number <= k under (count desc, phrase) == the k first
    # rows of that exact total order, ties broken by phrase)
    blocklist = (
        grams.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "phrase")
        .limit(BLOCK_TOP)
        .select("phrase")
    )
    return (
        grams.join(F.broadcast(blocklist), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )


# --------------------------------------------- distinct-n diversity ----
#
# Distinct-n (Li et al. 2016): unique n-grams over total n-grams — the
# standard lexical-diversity readout for comparing corpora or scoring
# generated text against its training source. Reported per source for
# n = 1 and n = 2 as exact permille ratios (distinct/total cross-
# multiplied onto the 1e3 lattice; no float division in the hash).


@register(
    "text_distinct_ngrams",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT source, ws[i] AS g
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t
      WHERE ws[i] <> ''
    ),
    bi AS (
      SELECT source, ws[i] || ' ' || ws[i + 1] AS g
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    u AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS total_1,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_1
      FROM uni GROUP BY source
    ),
    b AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS total_2,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_2
      FROM bi GROUP BY source
    )
    SELECT u.source, u.total_1, u.distinct_1,
           CAST((1000 * u.distinct_1) // u.total_1 AS BIGINT)
             AS distinct1_permille,
           b.total_2, b.distinct_2,
           CAST((1000 * b.distinct_2) // b.total_2 AS BIGINT)
             AS distinct2_permille
    FROM u JOIN b ON b.source = u.source
    """,
)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-1 / distinct-2 lexical diversity: unique and
    total uni/bigram counts with the exact permille ratios — low
    distinct-n flags templated or mode-collapsed text the way
    repetition/boilerplate flags intra-document patterns, but at the
    SOURCE level.

    Scale: one tokenize pass per gram shape; totals collapse map-side
    onto |sources| keys, distincts are (source, gram)-keyed
    partial-distinct aggregates (two-phase); the final join is
    |sources| rows. A single-scan variant (both gram shapes tagged and
    exploded together, one (source, n, gram) distinct + bounded pivot)
    was A/B'd in r12 and REVERTED: 1.11/1.14 s vs 0.80/0.81 s for this
    shape at sf0.1 — the struct-tagged combined explode and the wider
    distinct cost more than the saved scan."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    uni = docs.select(
        "source", F.explode(words).alias("g")
    ).filter(F.col("g") != "")
    bi = docs.select(
        "source",
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    ).filter(~F.col("g").startswith(" ") & ~F.col("g").endswith(" "))
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_1"),
        F.count_distinct("g").cast("long").alias("distinct_1"),
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_2"),
        F.count_distinct("g").cast("long").alias("distinct_2"),
    )
    return u.join(b, "source").select(
        "source",
        "total_1",
        "distinct_1",
        F.expr("(1000 * distinct_1) div total_1").cast("long").alias(
            "distinct1_permille"
        ),
        "total_2",
        "distinct_2",
        F.expr("(1000 * distinct_2) div total_2").cast("long").alias(
            "distinct2_permille"
        ),
    )


# ------------------------------------------------ round-9 additions ----
#
# Three readouts the LLM-pipeline inventory lacked: supervised keyword
# selection (chi-square class association), ranking agreement between
# the lexical and hybrid retrievers (rank-biased overlap on an exact
# dyadic lattice), and per-source vocabulary richness (Yule's K).

CHI2_MIN_DF = 5       # ignore tokens in fewer than 5 docs (noise floor)
CHI2_TOP_PER_CLASS = 10

# The chi2 statistic on the exact integer lattice (x 1e6, truncating
# division), evaluated by STAGED DIVMOD (the r10 VERDICT #2 ladder
# rung): the naive numerator 1e6*N*(ad-bc)^2 is O(N^5) and left the
# decimal(38,0) lattice past ~2.5M docs, even though the RESULT is
# bounded by 1e6*N (chi2 <= N for any 2x2 table). Divide as you
# multiply instead — with D = ad-bc, A = n_c*(N-n_c),
# B = df_all*(N-df_all), Q = A*B and the exact decompositions
#     u1 = 1e6*N*D = q1*A + r1
#     q1*D         = q2*B + r2
#     r1*D         = q3*Q + r3
# algebra gives 1e6*N*D^2 = (q2+q3)*Q + (r2*A + r3) with
# 0 <= r2*A + r3 < 2Q, so
#     chi2_micro = q2 + q3 + (1 if r2*A + r3 >= Q else 0)
# and every intermediate is bounded by max(1e6*N*D, P/A, A*D, 2*A*B)
# <= N^4/8 — inside decimal(38,0)/HUGEINT for any corpus up to
# N ~ 5e9 docs even at the adversarial worst case (both margins N/2),
# a ~2000x raise of the old ceiling. Past THAT, ANSI mode still
# RAISES loudly (never a silent null; pinned by
# tests/test_round10_ops.py on a synthetic N=8e9 contingency); the
# next rung, should 5e9-doc single-corpus chi2 ever be real, is
# per-class count sharding or a base-2^62 long division. Floor
# divisions ride (x - x % y) / y: the subtraction makes the quotient
# an exact integer, so the decimal(38,6) division result is exact and
# the quotients (<= ~1e27) fit its 32 integral digits.
CHI2_SCALE = 1_000_000


def with_chi2_micro(df: DataFrame) -> DataFrame:
    """Append the exact ``chi2_micro`` readout to a frame carrying the
    2x2 contingency columns (n11, n10, n01, n00, n_c, df_all, n_docs).
    Module-level so the overflow-ladder tests exercise the EXACT
    production arithmetic. Rows must satisfy D > 0 (the operator
    filters on positive association first)."""
    dec = "DECIMAL(38,0)"
    return (
        df.withColumns(
            {
                "_d": F.expr(
                    f"CAST(n11 AS {dec}) * n00 - CAST(n10 AS {dec}) * n01"
                ),
                "_a": F.expr(f"CAST(n_c AS {dec}) * (n_docs - n_c)"),
                "_b": F.expr(f"CAST(df_all AS {dec}) * (n_docs - df_all)"),
            }
        )
        .withColumn("_u1", F.expr(f"CAST({CHI2_SCALE} AS {dec}) * n_docs * _d"))
        .withColumns(
            {
                "_q1": F.expr(f"CAST((_u1 - _u1 % _a) / _a AS {dec})"),
                "_r1": F.expr("_u1 % _a"),
                "_qq": F.expr("_a * _b"),
            }
        )
        .withColumns({"_t1": F.expr("_q1 * _d"), "_t2": F.expr("_r1 * _d")})
        .withColumns(
            {
                "_q2": F.expr(f"CAST((_t1 - _t1 % _b) / _b AS {dec})"),
                "_r2": F.expr("_t1 % _b"),
                "_q3": F.expr(f"CAST((_t2 - _t2 % _qq) / _qq AS {dec})"),
                "_r3": F.expr("_t2 % _qq"),
            }
        )
        .withColumn(
            "chi2_micro",
            F.expr(
                "CAST(_q2 + _q3 + (CASE WHEN _r2 * _a + _r3 >= _qq"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ),
        )
    )


@register(
    "text_chi2_keywords",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT d.doc_id, d.source, t.token
      FROM documents d,
           unnest(string_split(d.text, ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    cls AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_c
      FROM documents GROUP BY source
    ),
    dfall AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df_all
      FROM pres GROUP BY token
      HAVING COUNT(*) >= {CHI2_MIN_DF}
    ),
    cell AS (
      SELECT p.source, p.token, CAST(COUNT(*) AS BIGINT) AS n11
      FROM pres p JOIN dfall USING (token)
      GROUP BY p.source, p.token
    ),
    contingency AS (
      SELECT c.source, c.token, c.n11, f.df_all, cl.n_c, n.n_docs,
             cl.n_c - c.n11 AS n10,
             f.df_all - c.n11 AS n01,
             n.n_docs - cl.n_c - (f.df_all - c.n11) AS n00
      FROM cell c
      JOIN dfall f USING (token)
      JOIN cls cl USING (source)
      CROSS JOIN n
      WHERE f.df_all < n.n_docs
    ),
    base AS (
      -- staged divmod (same derivation as with_chi2_micro): the naive
      -- 1e6*N*D^2 numerator is O(N^5); dividing as we multiply keeps
      -- every intermediate <= ~N^4/8, inside HUGEINT to N ~ 5e9 docs
      SELECT source, token, n11, df_all,
             CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01 AS d,
             CAST(n_c AS HUGEINT) * (n_docs - n_c) AS a,
             CAST(df_all AS HUGEINT) * (n_docs - df_all) AS b,
             CAST(1000000 AS HUGEINT) * n_docs
               * (CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01)
               AS u1
      FROM contingency
      WHERE CAST(n11 AS HUGEINT) * n00 > CAST(n10 AS HUGEINT) * n01
    ),
    stage1 AS (
      SELECT source, token, n11, df_all, a, b, a * b AS qq,
             (u1 // a) * d AS t1, (u1 % a) * d AS t2
      FROM base
    ),
    scored AS (
      SELECT source, token, n11, df_all,
             CAST((t1 // b) + (t2 // qq)
                  + (CASE WHEN (t1 % b) * a + (t2 % qq) >= qq
                          THEN 1 ELSE 0 END) AS BIGINT) AS chi2_micro
      FROM stage1
    )
    SELECT source, token, n11 AS df_in_class, df_all, chi2_micro,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY chi2_micro DESC, token) AS rn
      FROM scored
    ) WHERE rn <= {CHI2_TOP_PER_CLASS}
    """,
)
def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: per source class, the tokens most
    POSITIVELY associated with that class by the 2x2 doc-presence
    contingency test — the classic supervised keyword/feature selector
    for corpus routing and classifier vocab pruning. chi2 rides the
    exact integer lattice (x 1e6, truncating division) via the STAGED
    DIVMOD in with_chi2_micro (r10 VERDICT #2): the naive O(N^5)
    numerator left decimal(38,0) past ~2.5M docs, while dividing as we
    multiply bounds every intermediate by ~N^4/8 — exact to N ~ 5e9
    docs in BOTH engines (the old >38-digit fixture now PASSES with
    matching values; tests/test_round10_ops.py), with a loud ANSI
    raise past the new ceiling (rule-7: never a silent null).

    Scale: presence collapses to DISTINCT (doc, token) — the same
    (doc, token)-keyed shuffle every tf aggregate pays — and is
    lazily checkpointed so its THREE consumers (df_all, cell,
    contingency) share one tokenize+distinct pass (r9 VERDICT #5);
    class sizes and per-token df are broadcast-sized; the per-class
    top-k is a ranking window with WindowGroupLimit, never a global
    sort."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # ONE presence pass (r9 VERDICT #5): pres feeds df_all, the cell
    # counts AND the contingency — unckeckpointed, the physical plan
    # re-derived the tokenize+distinct subtree three times (three
    # Scan+Generate chains in PLANS.md). The lazy checkpoint
    # materializes it once on first use; tests/test_plans.py pins the
    # single Generate chain.
    pres = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cls = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_c"))
    dfall = (
        pres.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df_all"))
        .filter(F.col("df_all") >= CHI2_MIN_DF)
    )
    cell = (
        pres.join(F.broadcast(dfall.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n11"))
    )
    cont = (
        cell.join(F.broadcast(dfall), "token")
        .join(F.broadcast(cls), "source")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df_all") < F.col("n_docs"))
        .select(
            "source",
            "token",
            "n11",
            "df_all",
            "n_c",
            "n_docs",
            (F.col("n_c") - F.col("n11")).alias("n10"),
            (F.col("df_all") - F.col("n11")).alias("n01"),
            (
                F.col("n_docs") - F.col("n_c") - (F.col("df_all") - F.col("n11"))
            ).alias("n00"),
        )
    )
    # positive-association filter on the wide D (bigint n11*n00 would
    # itself overflow first at ~6e9 docs), then the staged readout
    scored = with_chi2_micro(cont).filter(F.expr("_d > 0")).select(
        "source",
        "token",
        F.col("n11").alias("df_in_class"),
        "df_all",
        "chi2_micro",
    )
    w = Window.partitionBy("source").orderBy(
        F.col("chi2_micro").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= CHI2_TOP_PER_CLASS)
        .select("source", "token", "df_in_class", "df_all", "chi2_micro", "rn")
    )


@shared
def _hybrid_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, lazily checkpointed hybrid ranking shared by the
    ranking-agreement evals (RBO, Kendall tau): one BM25 + dense-rerank
    pipeline per (session, sf_dir) instead of one per eval — the same
    r7 session-memo pattern as the BM25 eval relations (semantics and
    hashes unchanged; the expression is hybrid_search_topk's own)."""
    return hybrid_search_topk(spark, sf_dir).localCheckpoint(eager=False)


RBO_K = 20                 # evaluation depth = the BM25 top-k
RBO_POW2_K = 1 << RBO_K    # 2^20: p = 1/2 makes every weight dyadic-exact
RBO_LCM = 232792560        # lcm(1..20): clears every /d exactly


@register(
    "eval_rank_rbo",
    oracle=f"""
    WITH hybrid AS ({_hybrid_oracle()}),
    r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_lattice DESC, doc_id) AS ra
      FROM hybrid
    ),
    r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rb
      FROM hybrid
    ),
    matched AS (SELECT r1.ra, r2.rb FROM r1 JOIN r2 USING (doc_id)),
    depths AS (SELECT CAST(unnest(range(1, {RBO_K} + 1)) AS BIGINT) AS depth),
    ov AS (
      SELECT d.depth,
             CAST(COALESCE(SUM(CASE WHEN m.ra <= d.depth
                                     AND m.rb <= d.depth THEN 1 END), 0)
                  AS BIGINT) AS overlap
      FROM depths d LEFT JOIN matched m ON TRUE
      GROUP BY d.depth
    ),
    terms AS (
      SELECT depth, overlap,
             (CAST({RBO_POW2_K} AS HUGEINT) // (CAST(1 AS BIGINT) << depth))
               * ({RBO_LCM} // depth) * overlap AS term_scaled
      FROM ov
    )
    SELECT CAST(depth AS BIGINT) AS depth, overlap,
           CAST((CAST(1000000 AS HUGEINT)
                 * SUM(term_scaled) OVER (ORDER BY depth))
                // (CAST({RBO_POW2_K} AS HUGEINT) * {RBO_LCM}) AS BIGINT)
             AS rbo_cum_ppm
    FROM terms
    """,
)
def eval_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the lexical
    BM25 ranking and the dense-reranked hybrid ranking of the same
    candidates — "how much did the embedding rerank change the order".
    p = 1/2 on purpose: every RBO weight (1-p)p^(d-1) = 2^-d is a
    dyadic rational, so scaling by 2^k * lcm(1..k) makes the whole
    curve EXACT integers (no libm, no float ranking drift; DESIGN.md
    rule 3). Emits the per-depth overlap and cumulative RBO in ppm;
    the depth-k row is the headline RBO@20.

    Scale: both rankings are k-row relations (k = 20) coming off the
    memoized BM25/hybrid pipelines; everything after is k x k bounded
    algebra — a broadcast join and a k-row window."""
    hybrid = _hybrid_ranked(spark, sf_dir)
    r1 = hybrid.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_lattice").desc(), F.col("doc_id")))
        .alias("ra"),
    )
    r2 = hybrid.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("doc_id")))
        .alias("rb"),
    )
    matched = r1.join(r2, "doc_id").select("ra", "rb")
    depths = spark.range(1, RBO_K + 1).select(F.col("id").cast("long").alias("depth"))
    # LEFT join (on TRUE) rather than crossJoin: mirrors the oracle's
    # row-preserving shape — an EMPTY ranking must still emit all
    # RBO_K depth rows with overlap 0, not zero rows (r9 ADVICE)
    ov = (
        depths.join(F.broadcast(matched), F.lit(True), "left")
        .groupBy("depth")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ra") <= F.col("depth"))
                        & (F.col("rb") <= F.col("depth")),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("overlap")
        )
    )
    terms = ov.select(
        "depth",
        "overlap",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {RBO_K} - CAST(depth AS INT))"
            f" * (CAST({RBO_LCM} AS BIGINT) div depth) * overlap"
        ).alias("term_scaled"),
    )
    return terms.select(
        "depth",
        "overlap",
        F.expr(
            f"CAST((CAST(1000000 AS decimal(38,0))"
            f" * (SUM(term_scaled) OVER (ORDER BY depth)))"
            f" div (CAST({RBO_POW2_K} AS decimal(38,0)) * {RBO_LCM}) AS BIGINT)"
        ).alias("rbo_cum_ppm"),
    )


@register(
    "text_yule_k",
    oracle="""
    WITH toks AS (
      SELECT d.source, t.token
      FROM documents d,
           unnest(string_split(d.text, ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    tok_counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS m
      FROM toks GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(m) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COALESCE(SUM(CASE WHEN m = 1 THEN 1 END), 0) AS BIGINT) AS hapax,
           CAST(COALESCE(SUM(CASE WHEN m = 2 THEN 1 END), 0) AS BIGINT)
             AS dis_legomena,
           CAST((CAST(10000000 AS HUGEINT) * (SUM(m * m) - SUM(m)))
                // (CAST(SUM(m) AS HUGEINT) * SUM(m)) AS BIGINT)
             AS yule_k_milli
    FROM tok_counts
    GROUP BY source
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source — the scale-invariant
    vocabulary-richness / repetitiveness constant (K = 1e4 *
    (sum m^2 V_m - N) / N^2 over the frequency-of-frequencies
    spectrum), reported as K x 1000 on the exact integer lattice, plus
    the hapax/dis-legomena counts quality dashboards chart next to it.
    High K = repetitive vocabulary (template/boilerplate-heavy
    sources); low K = rich vocabulary.

    Scale: one token scan -> (source, token) counts (map-side partial),
    then a |sources|-row collapse. The 1e7-scaled numerator is O(N^2)
    -> decimal(38,0) holds past 1e15 tokens per source."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    tc = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    return tc.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.coalesce(F.sum(F.when(F.col("m") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("hapax"),
        F.coalesce(F.sum(F.when(F.col("m") == 2, 1)), F.lit(0))
        .cast("long")
        .alias("dis_legomena"),
        F.expr(
            "CAST((CAST(10000000 AS decimal(38,0)) * (SUM(m * m) - SUM(m)))"
            " div (CAST(SUM(m) AS decimal(38,0)) * SUM(m)) AS BIGINT)"
        ).alias("yule_k_milli"),
    )


@register(
    "eval_rank_kendall",
    oracle=f"""
    WITH hybrid AS ({_hybrid_oracle()}),
    r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_lattice DESC, doc_id) AS ra
      FROM hybrid
    ),
    r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rb
      FROM hybrid
    ),
    m AS (SELECT r1.doc_id, ra, rb FROM r1 JOIN r2 USING (doc_id))
    SELECT CAST(COALESCE(SUM(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0
                                  THEN 1 END), 0) AS BIGINT) AS concordant,
           CAST(COALESCE(SUM(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) < 0
                                  THEN 1 END), 0) AS BIGINT) AS discordant,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST((1000000 * (COALESCE(SUM(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0
                                              THEN 1 END), 0)
                            - COALESCE(SUM(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) < 0
                                                THEN 1 END), 0)))
                // COUNT(*) AS BIGINT) AS tau_ppm
    FROM m a JOIN m b ON a.doc_id < b.doc_id
    """,
)
def eval_rank_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation between the BM25 and hybrid rankings —
    the uniform-weight complement to eval_rank_rbo's top-weighted
    agreement: every pair of documents votes concordant or discordant,
    tau = (C - D) / C(n,2) in exact ppm (row_number ranks are strict,
    so there are no ties and tau-b = tau-a; truncating division is sign-
    symmetric in both engines per DESIGN.md rule 5, so negative tau
    hashes identically).

    Scale: the pair self-join is k x k over the k-row (k = 20) matched
    ranking — bounded algebra off the memoized hybrid pipeline, exactly
    like RBO."""
    hybrid = _hybrid_ranked(spark, sf_dir)
    r1 = hybrid.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_lattice").desc(), F.col("doc_id")))
        .alias("ra"),
    )
    r2 = hybrid.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("doc_id")))
        .alias("rb"),
    )
    m = r1.join(r2, "doc_id")
    a = m.alias("a")
    b = m.alias("b")
    sgn = (F.col("a.ra") - F.col("b.ra")) * (F.col("a.rb") - F.col("b.rb"))
    return (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .agg(
            F.coalesce(F.sum(F.when(sgn > 0, 1)), F.lit(0))
            .cast("long")
            .alias("concordant"),
            F.coalesce(F.sum(F.when(sgn < 0, 1)), F.lit(0))
            .cast("long")
            .alias("discordant"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .select(
            "concordant",
            "discordant",
            "n_pairs",
            F.expr("(1000000 * (concordant - discordant)) div n_pairs")
            .cast("long")
            .alias("tau_ppm"),
        )
    )


# ------------------------------------------ Brier / Murphy decomposition ----
#
# The third calibration readout on the shared reliability substrate:
# ECE answers "how far off are the bin probabilities", isotonic fits
# the monotone correction, and the Murphy decomposition splits the
# Brier score into WHY — reliability (calibration error, lower better),
# resolution (how much the bins separate the base rate, higher better),
# uncertainty (the irreducible o(1-o) of the base rate):
#     binned_brier = reliability - resolution + uncertainty.
# Everything rides exact integers with explicitly-floored ppm lattices:
# per-bin contributions are (1e6 * num^2) div n_b in decimal(38,0)
# (both engines truncate identically), summed and floored once more by
# the corpus denominators; the RAW per-doc Brier has the single common
# denominator 1e6*N, so its numerator is exactly integral. Headroom:
# the resolution numerator is O(N^4) per bin — decimal(38,0) holds to
# ~6e7 docs; past that, divide (pos_b*N - P*n_b) by gcd first (rule 7:
# ANSI raises loudly on overflow).


def _brier_oracle() -> str:
    return f"""
    WITH {_reliability_bins_ctes()},
    tots AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt,
             CAST(SUM(sum_score2) AS BIGINT) AS ss2,
             CAST(SUM(sum_score_label) AS BIGINT) AS ssl,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM bins
    ),
    contribs AS (
      SELECT CAST(SUM((CAST(1000000 AS HUGEINT)
                       * (1000 * b.pos - b.sum_score)
                       * (1000 * b.pos - b.sum_score)) // b.n)
                  AS HUGEINT) AS rel_sum,
             CAST(SUM((CAST(1000000 AS HUGEINT)
                       * (b.pos * t.nt - t.pt * b.n)
                       * (b.pos * t.nt - t.pt * b.n)) // b.n)
                  AS HUGEINT) AS res_sum
      FROM bins b CROSS JOIN tots t
    )
    SELECT t.nt AS n_total, t.pt AS pos_total, t.n_bins,
           CAST((t.ss2 - 2000 * t.ssl + CAST(1000000 AS HUGEINT) * t.pt)
                // t.nt AS BIGINT) AS brier_ppm,
           CAST(c.rel_sum // (CAST(1000000 AS HUGEINT) * t.nt)
                AS BIGINT) AS rel_ppm,
           CAST(c.res_sum // (CAST(t.nt AS HUGEINT) * t.nt * t.nt)
                AS BIGINT) AS res_ppm,
           CAST((CAST(1000000 AS HUGEINT) * t.pt * (t.nt - t.pt))
                // (CAST(t.nt AS HUGEINT) * t.nt) AS BIGINT) AS unc_ppm
    FROM tots t CROSS JOIN contribs c
    """


@register("eval_brier_decomposition", oracle=_brier_oracle())
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the shared
    reliability bins: raw per-doc Brier (exact numerator over the
    single denominator 1e6*N), binned reliability, resolution and
    uncertainty — all in ppm on explicitly-floored integer lattices
    (rel - res + unc equals the binned Brier on the exact rationals;
    the recount test pins the identity with Fractions).

    Scale: identical posture to eval_calibration_ece — the bigram
    scoring pass is the only corpus-proportional work; the histogram
    collapses map-side onto <= 11 bins and everything downstream is
    bounded decimal algebra."""
    bins = _reliability_bins(spark, sf_dir).localCheckpoint(eager=False)
    d38 = "decimal(38,0)"
    tots = bins.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("pos").cast("long").alias("pt"),
        F.sum("sum_score2").cast("long").alias("ss2"),
        F.sum("sum_score_label").cast("long").alias("ssl"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    contribs = (
        bins.crossJoin(F.broadcast(tots))
        .select(
            F.expr(
                f"(CAST(1000000 AS {d38}) * (1000 * pos - sum_score)"
                f" * (1000 * pos - sum_score)) div n"
            ).alias("rel_c"),
            F.expr(
                f"(CAST(1000000 AS {d38}) * (pos * nt - pt * n)"
                f" * (pos * nt - pt * n)) div n"
            ).alias("res_c"),
        )
        .agg(F.sum("rel_c").alias("rel_sum"), F.sum("res_c").alias("res_sum"))
    )
    return (
        tots.crossJoin(F.broadcast(contribs))
        .select(
            F.col("nt").alias("n_total"),
            F.col("pt").alias("pos_total"),
            "n_bins",
            F.expr(
                f"CAST((ss2 - 2000 * ssl + CAST(1000000 AS {d38}) * pt)"
                f" div nt AS BIGINT)"
            ).alias("brier_ppm"),
            F.expr(
                f"CAST(rel_sum div (CAST(1000000 AS {d38}) * nt) AS BIGINT)"
            ).alias("rel_ppm"),
            F.expr(
                f"CAST(res_sum div (CAST(nt AS {d38}) * nt * nt) AS BIGINT)"
            ).alias("res_ppm"),
            F.expr(
                f"CAST((CAST(1000000 AS {d38}) * pt * (nt - pt))"
                f" div (CAST(nt AS {d38}) * nt) AS BIGINT)"
            ).alias("unc_ppm"),
        )
    )
