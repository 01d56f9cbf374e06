"""Graph analytics over a corpus-derived token graph (SURVEY.md §2.C
extension surface): fixed-iteration PageRank and triangle counting —
the two classic distributed-graph shapes (iterative scatter/gather and
multi-way self-join) re-expressed as DataFrame plans.

The graph: nodes are the top-``PR_VOCAB`` corpus tokens by term
frequency; directed edges are the DISTINCT adjacent-token (bigram)
pairs whose endpoints both sit in that vocabulary. Bounding the node
set by a fixed vocabulary is what makes the graph relation scale-free:
the corpus scan that extracts bigrams is linear and happens ONCE, the
resulting edge relation is at most |V|² rows regardless of corpus
size, and every iterative step after that touches only the tiny graph
relation — the same "heavy extract once, iterate on the small state"
shape as the k-means loop (clustering.py).

Determinism: PageRank sums fractional contributions, and a sum of raw
doubles is partition-order-dependent. Every per-edge contribution is
therefore quantized HALF-EVEN onto a 1e-12 integer lattice and summed
as bigints (order-free), with the single double division at the end —
the identical portable-arithmetic trick as the k-means centroids and
the bigram-LM scores, so the DuckDB oracle hash-matches bit-for-bit at
any partition count. Triangle counts are pure integers.

Reference parity note: the reference (a Cassandra-backed filesystem,
see SURVEY.md §2.A) has no graph surface at all; these operators are
part of the §2.C training-data-pipeline extension the build brief
asks for (link-graph quality signals — PageRank-style authority and
clustering-coefficient-style connectivity — are standard web-corpus
curation features, cf. Common Crawl harmonic-centrality releases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.functions import md5_fp
from snackfs_spark.memo import shared
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table

PR_VOCAB = 150     # node budget: top tokens by term frequency
PR_ITERS = 3       # fixed power-method rounds => SQL-unrollable
PR_TOP = 50        # rows returned (full tie-break => deterministic)
TRI_TOP = 50


@shared
def _token_graph(spark: SparkSession, sf_dir: str):
    """(vocab, edges, out_deg) for the token bigram graph. One corpus
    scan builds the distinct-pair relation; everything returned is
    O(|V|²)-bounded and localCheckpointed so the PageRank loop's three
    consumers don't re-run the scan. Memoized per (session, sf_dir) —
    optimization r11: EIGHT registered graph queries (pagerank,
    triangles, degree distribution, BFS, k-truss, harmonic centrality,
    jaccard link prediction, …) each rebuilt the graph, re-running the
    corpus scan + vocab top-k + distinct-edge shuffle; now the battery
    extracts the graph once."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    toks = docs.select(F.explode(words).alias("w")).filter(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(PR_VOCAB)
        .select(F.col("w").alias("token"))
        .localCheckpoint(eager=False)
    )
    # adjacent pairs without a self-join: zip words with their tail
    # (same zero-shuffle projection as text_bigram_prob)
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
    edges = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .join(F.broadcast(vocab.withColumnRenamed("token", "w1")), "w1")
        .join(F.broadcast(vocab.withColumnRenamed("token", "w2")), "w2")
        .select("w1", "w2")
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_deg = (
        edges.groupBy("w1").agg(F.count(F.lit(1)).alias("od")).localCheckpoint(eager=False)
    )
    return vocab, edges, out_deg


# Shared CTE prefix: bigram extraction -> vocab -> vocab-restricted
# distinct edges (the oracle mirror of _token_graph).
_GRAPH_CTES = f"""
    toks0 AS (
      SELECT doc_id, i AS pos, words[i + 1] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(range(0, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    ),
    vocab AS (
      SELECT w AS token FROM (
        SELECT w, COUNT(*) AS c FROM toks0 WHERE w <> '' GROUP BY w
      ) QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, w) <= {PR_VOCAB}
    ),
    edges AS (
      SELECT DISTINCT a.w AS w1, b.w AS w2
      FROM toks0 a
      JOIN toks0 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN vocab v1 ON v1.token = a.w
      JOIN vocab v2 ON v2.token = b.w
      WHERE a.w <> b.w
    )"""


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Power method unrolled to `iters` rounds of CTEs (dangling-mass
    CTE + in-sum CTE + rank CTE per round); generated so tests can run
    deeper than the registered depth against the same SQL."""
    ctes = [
        _GRAPH_CTES.strip(),
        "outd AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY w1)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vocab)",
        "r0 AS (SELECT token, CAST(1 AS DOUBLE) / nn.n AS r FROM vocab, nn)",
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""d{k} AS (
      SELECT COALESCE(SUM(CAST(round_even(p.r * 1e12, 0) AS BIGINT)), 0) AS dq
      FROM {p} p LEFT JOIN outd o ON o.w1 = p.token WHERE o.w1 IS NULL
    )"""
        )
        ctes.append(
            f"""i{k} AS (
      SELECT e.w2 AS token,
             SUM(CAST(round_even((p.r / o.od) * 1e12, 0) AS BIGINT)) AS qs
      FROM edges e JOIN {p} p ON p.token = e.w1 JOIN outd o ON o.w1 = e.w1
      GROUP BY e.w2
    )"""
        )
        ctes.append(
            f"""r{k} AS (
      SELECT v.token,
             CAST(0.15 AS DOUBLE) / nn.n
             + CAST(0.85 AS DOUBLE)
               * ((CAST(COALESCE(i.qs, 0) AS DOUBLE) / 1e12)
                  + (CAST(d.dq AS DOUBLE) / 1e12) / nn.n) AS r
      FROM vocab v LEFT JOIN i{k} i ON i.token = v.token
      CROSS JOIN d{k} d CROSS JOIN nn
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT token, r AS pagerank FROM r{iters}
    QUALIFY ROW_NUMBER() OVER (ORDER BY r DESC, token) <= {PR_TOP}"""
    )


def pagerank_tokens(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """Parameterized power-method loop behind graph_pagerank_tokens;
    tests run it deeper than the registered round count against
    `_pagerank_oracle(iters)`."""
    vocab, edges, out_deg = _token_graph(spark, sf_dir)
    nn = vocab.agg(F.count(F.lit(1)).alias("n"))
    ranks = vocab.crossJoin(F.broadcast(nn)).select(
        "token", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(iters):
        # dangling mass: rank stranded on nodes with no out-edges is
        # redistributed uniformly (the standard stochastic-matrix fix).
        dang = (
            ranks.join(out_deg, ranks.token == out_deg.w1, "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.bround(F.col("r") * F.lit(1.0e12)).cast("bigint")),
                    F.lit(0).cast("bigint"),
                ).alias("dq")
            )
        )
        contrib = (
            edges.join(F.broadcast(ranks.withColumnRenamed("token", "w1")), "w1")
            .join(F.broadcast(out_deg), "w1")
            .select(
                F.col("w2").alias("token"),
                F.bround((F.col("r") / F.col("od")) * F.lit(1.0e12))
                .cast("bigint")
                .alias("q"),
            )
        )
        in_sum = contrib.groupBy("token").agg(F.sum("q").alias("qs"))
        ranks = (
            vocab.join(in_sum, "token", "left_outer")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select(
                "token",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85)
                    * (
                        F.coalesce("qs", F.lit(0)).cast("double") / F.lit(1.0e12)
                        + (F.col("dq").cast("double") / F.lit(1.0e12)) / F.col("n")
                    )
                ).alias("r"),
            )
        )
    return (
        ranks.select("token", F.col("r").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "token")
        .limit(PR_TOP)
    )


@register("graph_pagerank_tokens", oracle=_pagerank_oracle())
def graph_pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 power-method rounds, uniform dangling
    redistribution) over the vocab-bounded token bigram graph; top 50
    by rank, full tie-break.

    Scale shape: the corpus contributes ONE linear bigram-extraction
    scan; the graph state (edges ≤ |V|², ranks = |V|) is then the only
    thing the loop touches. Ranks/degrees broadcast into the edge join
    every round, the in-sum aggregate collapses map-side onto ≤ |V|
    keys, and the dangling mass is a one-row aggregate — per-round
    shuffle volume is O(|V|), independent of corpus size. On a real
    web-scale graph (nodes >> vocab) the identical plan runs with the
    broadcast hint dropped: the edge⋈rank join becomes a co-partitioned
    shuffle join on src, which is exactly Pregel-style scatter/gather
    expressed relationally."""
    return pagerank_tokens(spark, sf_dir, PR_ITERS)


_TRI_CTES = f"""{_GRAPH_CTES},
    und AS (
      SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM edges
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_TRI_CTES}
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT x AS token FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY token
    QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) <= {TRI_TOP}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (the clustering-coefficient numerator)
    on the undirected token graph; top 50 nodes by count.

    The canonical distributed-triangle plan: orient every edge low→high
    (each triangle counted exactly once as x<y<z), then two equi-self-
    joins — wedge build (e1.b = e2.a) and wedge close (matching third
    edge on (x, z)). Integer counts, no floating point at all.

    Scale: self-join fan-out is Σ deg(v)² — the classic skew hazard on
    power-law graphs. The low→high orientation is itself the published
    mitigation (each wedge is built at its LOWEST-degree-compatible
    vertex ordering, cutting hub fan-out quadratically; cf. the
    MapReduce triangle-counting literature), and AQE skew-join handles
    the residual hot keys. Here the relation is additionally bounded by
    the |V|² vocabulary cap, so the joins are broadcast-sized."""
    _, edges, _ = _token_graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "token")
        .limit(TRI_TOP)
    )


# BFS: the third classic distributed-graph shape (frontier expansion)
# after scatter/gather PageRank and the triangle multi-way self-join.
BFS_SEEDS = 3      # hash-chosen seed tokens (deterministic both engines)
BFS_MAX_HOPS = 4   # fixed round budget => SQL-unrollable / CTE-boundable


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTES},
    seeds AS (
      SELECT token FROM vocab
      QUALIFY ROW_NUMBER() OVER (
        ORDER BY ('0x' || substr(md5(token), 1, 15))::BIGINT, token
      ) <= {BFS_SEEDS}
    ),
    bfs (token, dist) AS (
      SELECT token, 0 FROM seeds
      UNION
      SELECT e.w2, b.dist + 1
      FROM bfs b JOIN edges e ON e.w1 = b.token
      WHERE b.dist < {BFS_MAX_HOPS}
    )
    SELECT token, CAST(MIN(dist) AS BIGINT) AS dist
    FROM bfs GROUP BY token
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop distance from {BFS_SEEDS}
    hash-chosen seed tokens to every token reachable within
    {BFS_MAX_HOPS} hops of the bigram graph. The oracle explores ALL
    (token, dist) pairs with a recursive CTE and takes MIN; the engine
    never does — each round expands only the NEW frontier (anti-join
    against settled nodes), which is the distributed-BFS invariant that
    keeps round cost proportional to the frontier, not to the paths
    explored (cross-algorithm check).

    Scale: the corpus scan happens once inside _token_graph; every BFS
    round is a frontier ⋈ edges join + anti-join over O(|V|)-bounded
    relations, localCheckpointed so round k's lineage doesn't replay
    rounds 1..k-1. Round count is the fixed hop budget — on a real
    cluster each round is one tiny-key shuffle stage."""
    vocab, edges, _ = _token_graph(spark, sf_dir)
    fp = md5_fp(F.col("token"))
    seeds = (
        vocab.withColumn("fp", fp)
        .orderBy("fp", "token")
        .limit(BFS_SEEDS)
        .select("token")
    )
    dist = seeds.select("token", F.lit(0).alias("dist")).localCheckpoint(
        eager=False
    )
    frontier = dist.select("token")
    for k in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["token"] == edges["w1"])
            .select(F.col("w2").alias("token"))
            .distinct()
            .join(dist.select("token"), "token", "left_anti")
            .withColumn("dist", F.lit(k))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("token")
    return dist.select("token", F.col("dist").cast("long").alias("dist"))


# ------------------------------------------------ degree distribution ----
#
# The first diagnostic run on any large graph: the degree histogram
# (power-law check). Buckets are powers of two via BINARY LENGTH
# (length(bin(deg)) — exact integer in both engines, the same rule as
# text_vocab_growth), so the report is <= 64 rows at any graph size
# and the heavy-tail exponent can be read straight off the bucket
# slope. Degrees are over the vocab-restricted distinct bigram edge
# set shared with PageRank/triangles/BFS.


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_GRAPH_CTES},
    degs AS (
      SELECT token,
             COALESCE(o.od, 0) + COALESCE(i.id, 0) AS deg
      FROM vocab v
      LEFT JOIN (SELECT w1, CAST(COUNT(*) AS BIGINT) AS od
                 FROM edges GROUP BY w1) o ON o.w1 = v.token
      LEFT JOIN (SELECT w2, CAST(COUNT(*) AS BIGINT) AS id
                 FROM edges GROUP BY w2) i ON i.w2 = v.token
    )
    SELECT CASE WHEN deg = 0 THEN 0 ELSE length(bin(deg)) END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg) AS BIGINT) AS sum_deg,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg
    FROM degs GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two degree histogram of the token bigram graph (total
    degree = in + out over the distinct directed edge set): per bucket,
    node count, degree mass, and the min/max degrees — the power-law
    diagnostic every graph pipeline starts with, in <= 64 rows.

    Scale: degrees are two map-side-combinable counts over the
    |V|²-bounded edge relation; the histogram collapses map-side onto
    <= 64 integer keys. The corpus contributes only the one bigram
    scan _token_graph already pays (checkpointed, shared)."""
    vocab, edges, out_deg = _token_graph(spark, sf_dir)
    in_deg = edges.groupBy("w2").agg(F.count(F.lit(1)).alias("id"))
    degs = (
        vocab.join(out_deg.withColumnRenamed("w1", "token"), "token", "left")
        .join(in_deg.withColumnRenamed("w2", "token"), "token", "left")
        .select(
            (F.coalesce("od", F.lit(0)) + F.coalesce("id", F.lit(0))).alias("deg")
        )
    )
    bucket = F.when(F.col("deg") == 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("deg").cast("string"), 10, 2))
    ).cast("int")
    return degs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("sum_deg"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
    )
# ------------------------------------------------------------- k-core ----
#
# k-core decomposition (Seidman 1983) of the NEAR-DUP CANDIDATE graph:
# docs are nodes, MinHash-LSH band collisions (the shared candidate
# relation of dedup_minhash_lsh) are undirected edges. Peeling nodes of
# degree < K repeatedly strips docs with only incidental collisions and
# leaves the dense template cores — the structure a curation pass
# treats differently from pairwise dupes (boilerplate families, mirror
# sites). Fixed KCORE_ROUNDS rounds; a final n_removed = 0 row
# certifies the fixpoint. The cascade is real: removing a degree-1
# partner lowers its neighbor's degree, so membership is NOT "degree
# >= K in round 1" — the iterative recomputation is the operator.
KCORE_K = 2
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    from snackfs_spark.operators.dedup import _MINHASH_CTE

    # Every chained CTE is AS MATERIALIZED: DuckDB inlines plain CTEs,
    # and the round chain references each prior round ~3 times — inlined
    # that is 3^R re-evaluations of the shingle scan (measured: does not
    # terminate). Materialization makes the oracle linear in rounds,
    # matching the engine's per-round checkpoints.
    parts = ["WITH " + _MINHASH_CTE + ","]
    parts.append(
        "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band "
        "AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),"
    )
    parts.append(
        "und AS MATERIALIZED (SELECT doc_a, doc_b FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand),"
    )
    parts.append("a0 AS MATERIALIZED (SELECT doc_id FROM documents),")
    for r in range(1, KCORE_ROUNDS + 2):
        p = r - 1
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT u.doc_a, u.doc_b FROM und u "
            f"JOIN a{p} x ON x.doc_id = u.doc_a JOIN a{p} y ON y.doc_id = u.doc_b),"
        )
        if r == KCORE_ROUNDS + 1:
            break
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT a.doc_id, "
            f"CAST(COALESCE(cnt.c, 0) AS BIGINT) AS deg "
            f"FROM a{p} a LEFT JOIN (SELECT doc_a, COUNT(*) AS c FROM e{r} "
            f"GROUP BY doc_a) cnt ON cnt.doc_a = a.doc_id),"
        )
        parts.append(
            f"a{r} AS MATERIALIZED "
            f"(SELECT doc_id FROM d{r} WHERE deg >= {KCORE_K}),"
        )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, "
        f"CAST((SELECT COUNT(*) FROM d{r}) AS BIGINT) AS n_before, "
        f"CAST((SELECT COUNT(*) FILTER (deg >= {KCORE_K}) FROM d{r}) AS BIGINT)"
        f" AS n_alive, "
        f"CAST((SELECT COUNT(*) FILTER (deg < {KCORE_K}) FROM d{r}) AS BIGINT)"
        f" AS n_removed, "
        f"CAST((SELECT COUNT(*) FROM e{r + 1}) / 2 AS BIGINT) AS n_core_edges"
        for r in range(1, KCORE_ROUNDS + 1)
    ]
    body = "\n".join(parts)
    if body.endswith(","):
        body = body[:-1]
    return body + "\n" + "\nUNION ALL\n".join(selects)


@register("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative K-core peeling of the near-dup candidate graph: one row
    per round with nodes before/after, nodes removed, and the surviving
    undirected candidate-edge count — the final n_removed = 0 row
    certifies the fixpoint; survivors are the dense template cores the
    pairwise dedup verbs underweight.

    Scale: the corpus pays only the shared shingle -> signature -> band
    pipeline (the dedup_minhash_lsh posture: equi-join candidates,
    never O(n²)); the peeling loop is per-round ONE degree join plus
    one edge-filter pair of shuffle-hash joins whose output is BOTH the
    round's surviving-edge count AND the next round's edge relation
    (e_{r+1} = e_r ⋈ alive ⋈ alive = und ⋈ alive ⋈ alive because
    alive ⊆ every earlier alive set — the r11 rewrite; the old loop
    re-derived e_{r+1} from the full graph, paying the same two joins
    twice per round). Round 1's edge relation IS the undirected
    candidate graph (alive₀ = all documents). localCheckpointed so
    lineage stays flat; every relation in the loop is candidate-sized,
    not corpus-sized, after round 1."""
    from snackfs_spark.operators.dedup import candidate_edges_df

    docs = load_table(spark, sf_dir, "documents")
    _, und = candidate_edges_df(spark, sf_dir)
    alive = docs.select("doc_id")
    er = und  # e_1: every candidate endpoint is a document, so the
    # alive₀ filter is an identity — no join needed
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = alive.join(
            er.groupBy("doc_a")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumnRenamed("doc_a", "doc_id")
            .hint("shuffle_hash"),
            "doc_id",
            "left",
        ).select("doc_id", F.coalesce("c", F.lit(0)).cast("long").alias("deg"))
        new_alive = (
            deg.filter(F.col("deg") >= KCORE_K).select("doc_id").localCheckpoint(
                eager=False
            )
        )
        stats = deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(F.when(F.col("deg") >= KCORE_K, 1).otherwise(0))
            .cast("long")
            .alias("n_alive"),
            F.sum(F.when(F.col("deg") < KCORE_K, 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
        er_next = (
            er.join(
                new_alive.withColumnRenamed("doc_id", "doc_a").hint("shuffle_hash"),
                "doc_a",
            )
            .join(
                new_alive.withColumnRenamed("doc_id", "doc_b").hint("shuffle_hash"),
                "doc_b",
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=False)
        )
        core_edges = er_next.agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges")
        )
        rounds.append(
            stats.crossJoin(core_edges).select(
                F.lit(r).cast("long").alias("round"),
                "n_before",
                "n_alive",
                "n_removed",
                "n_core_edges",
            )
        )
        alive, er = new_alive, er_next
    out = rounds[0]
    for part in rounds[1:]:
        out = out.unionByName(part)
    return out


# ------------------------------------------------- harmonic centrality ----
#
# Harmonic centrality (Boldi-Vigna 2014 — the measure Common Crawl
# publishes for web-corpus curation): H(v) = sum over reachable sources
# u of 1/d(u, v), computed here over directed distances up to
# HC_MAX_HOPS. With the hop cap at 4 the score is EXACT in twelfths
# (LCM(1..4) = 12): h12 = 12*c1 + 6*c2 + 4*c3 + 3*c4 where c_d counts
# sources at shortest distance d — no float harmonic sum, the same
# log-free integer substrate trick as the lift/idf operators. Distances
# come from all-pairs iterative expansion on the |V|²-bounded graph
# relation (the corpus pays only the shared bigram scan).
HC_MAX_HOPS = 4
HC_WEIGHTS = {1: 12, 2: 6, 3: 4, 4: 3}  # 12/d exactly


@register(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTES},
    paths (src, dst, d) AS (
      SELECT w1, w2, 1 FROM edges
      UNION
      SELECT p.src, e.w2, p.d + 1
      FROM paths p JOIN edges e ON e.w1 = p.dst
      WHERE p.d < {HC_MAX_HOPS}
    ),
    mind AS (
      SELECT src, dst, MIN(d) AS d FROM paths WHERE src <> dst GROUP BY src, dst
    ),
    counts AS (
      SELECT dst AS token,
             {", ".join(f"CAST(SUM(CASE WHEN d = {d} THEN 1 ELSE 0 END) AS BIGINT) AS c{d}" for d in range(1, HC_MAX_HOPS + 1))}
      FROM mind GROUP BY dst
    )
    SELECT v.token,
           {", ".join(f"CAST(COALESCE(c.c{d}, 0) AS BIGINT) AS c{d}" for d in range(1, HC_MAX_HOPS + 1))},
           CAST({" + ".join(f"{w} * COALESCE(c.c{d}, 0)" for d, w in HC_WEIGHTS.items())}
                AS BIGINT) AS h12
    FROM vocab v LEFT JOIN counts c ON c.token = v.token
    """,
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-capped harmonic centrality of the token graph: per node the
    exact source counts at shortest directed distance 1..4 and the
    integer-twelfths score h12 = 12*c1 + 6*c2 + 4*c3 + 3*c4 — the
    authority signal of the Common Crawl curation family, with no
    floating-point harmonic sum anywhere.

    Scale: all-pairs distances come from HC_MAX_HOPS - 1 rounds of
    frontier-join + anti-join-dedup over the |V|²-bounded edge relation
    (checkpointed per round); the corpus contributes only the shared
    one-pass bigram scan. Counts collapse onto the vocab relation."""
    vocab, edges, _ = _token_graph(spark, sf_dir)
    e2 = edges.select(F.col("w1").alias("hop_src"), F.col("w2").alias("hop_dst"))
    known = edges.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"), F.lit(1).alias("d")
    ).localCheckpoint(eager=False)
    frontier = known
    for r in range(2, HC_MAX_HOPS + 1):
        stepped = (
            frontier.join(
                e2.hint("shuffle_hash"), frontier["dst"] == e2["hop_src"]
            )
            .select("src", F.col("hop_dst").alias("dst"))
            .distinct()
        )
        new = (
            stepped.join(known.select("src", "dst").hint("shuffle_hash"), ["src", "dst"], "left_anti")
            .withColumn("d", F.lit(r))
            .localCheckpoint(eager=False)
        )
        known = known.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    mind = known.filter(F.col("src") != F.col("dst"))
    counts = mind.groupBy(F.col("dst").alias("token")).agg(
        *[
            F.sum(F.when(F.col("d") == d, 1).otherwise(0))
            .cast("long")
            .alias(f"c{d}")
            for d in range(1, HC_MAX_HOPS + 1)
        ]
    )
    joined = vocab.join(counts.hint("shuffle_hash"), "token", "left")
    return joined.select(
        "token",
        *[F.coalesce(f"c{d}", F.lit(0)).cast("long").alias(f"c{d}") for d in range(1, HC_MAX_HOPS + 1)],
        sum(
            F.lit(w) * F.coalesce(F.col(f"c{d}"), F.lit(0))
            for d, w in HC_WEIGHTS.items()
        )
        .cast("long")
        .alias("h12"),
    )


# -------------------------------------------------- degree assortativity ----
#
# Degree assortativity (Newman 2002): do high-degree tokens link to
# high-degree tokens? The Pearson correlation of (out-degree of source,
# in-degree of target) across the directed edge set, from exact integer
# moment sums (the timeseries_correlation recipe on the graph) — the
# one-number structure diagnostic next to the degree histogram:
# positive = hub-to-hub core, negative = hub-and-spoke.


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_GRAPH_CTES},
    od AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS odeg FROM edges GROUP BY w1),
    idg AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ideg FROM edges GROUP BY w2),
    ex AS (
      SELECT o.odeg AS x, i.ideg AS y
      FROM edges e JOIN od o ON o.w1 = e.w1 JOIN idg i ON i.w2 = e.w2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS cov_num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS var_x,
           CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS var_y,
           -- a REGULAR graph (all degrees equal, var 0) has undefined r;
           -- publish 0e0 explicitly — the 100x fixture's denser corpus
           -- completes the 31-token graph and hit exactly this
           CASE WHEN COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) = 0
                  OR COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) = 0 THEN 0e0
                ELSE CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
                     / (sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE))
                        * sqrt(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)))
           END AS assortativity
    FROM ex
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the token graph: Pearson r of (source
    out-degree, target in-degree) over directed edges, from exact
    integer moment sums (bit-reproducible at any parallelism — F.corr's
    streaming merge is not) with the exact covariance numerator
    published alongside the double.

    Scale: degrees are two map-side counts on the |V|²-bounded edge
    relation; the edge-degree join is two shuffle-hash joins on token
    keys; the moment fold is one row. Corpus cost = the shared bigram
    scan only."""
    vocab, edges, out_deg = _token_graph(spark, sf_dir)
    od = out_deg.withColumnRenamed("w1", "token").withColumnRenamed("od", "odeg")
    idg = edges.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("ideg"))
    ex = (
        edges.join(od.withColumnRenamed("token", "w1").hint("shuffle_hash"), "w1")
        .join(idg.hint("shuffle_hash"), "w2")
        .select(F.col("odeg").alias("x"), F.col("ideg").alias("y"))
    )
    m = ex.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_yy"),
    )
    cov = F.col("n_edges") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")
    vx = F.col("n_edges") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
    vy = F.col("n_edges") * F.col("sum_yy") - F.col("sum_y") * F.col("sum_y")
    return m.select(
        "n_edges",
        "sum_x",
        "sum_y",
        cov.cast("long").alias("cov_num"),
        vx.cast("long").alias("var_x"),
        vy.cast("long").alias("var_y"),
        # regular graph (zero degree variance) -> r undefined: publish 0.0
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(
            cov.cast("double") / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        )
        .alias("assortativity"),
    )


# ------------------------------------------- clustering coefficient ----
#
# Per-node clustering coefficient (Watts-Strogatz): triangles through a
# node over its wedge count C(deg, 2) — how much of a node's
# neighborhood is itself connected, the local-density companion to the
# global triangle count. Exact rationals: cc_num = 2 * triangles,
# cc_den = deg * (deg - 1), published per node alongside the ppm floor
# (a corpus-level mean is NOT emitted — averaging the per-node
# rationals is a separate reduction the caller can run over cc_num /
# cc_den). Degrees are UNDIRECTED distinct-neighbor counts over the
# same oriented edge relation the triangle plan uses.


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_TRI_CTES},
    tcnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS token FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY token
    ),
    deg AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS token FROM und UNION ALL SELECT b FROM und
      ) GROUP BY token
    )
    SELECT d.token, d.d AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(2 * COALESCE(t.n_tri, 0) AS BIGINT) AS cc_num,
           CAST(d.d * (d.d - 1) AS BIGINT) AS cc_den,
           CAST(CASE WHEN d.d >= 2
                     THEN (1000000 * 2 * COALESCE(t.n_tri, 0)) // (d.d * (d.d - 1))
                     ELSE 0 END AS BIGINT) AS cc_ppm
    FROM deg d LEFT JOIN tcnt t ON t.token = d.token
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient over the undirected token graph:
    degree, triangle count, the exact rational 2T / d(d-1) and its ppm
    floor — the local-density readout (cc ~ 1 marks cliquey template
    vocabulary, cc ~ 0 star hubs) that complements the global triangle
    and degree-histogram views.

    Scale: reuses the oriented triangle plan (wedge build + close on
    the |V|²-bounded relation, AQE skew-handled) plus one degree
    aggregate; the coefficient is per-row algebra on the vocab
    relation."""
    _, edges, _ = _token_graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2").hint("shuffle_hash")
    e3 = und.alias("e3").hint("shuffle_hash")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    deg = (
        und.select(F.col("a").alias("token"))
        .union(und.select(F.col("b").alias("token")))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return deg.join(tcnt.hint("shuffle_hash"), "token", "left").select(
        "token",
        F.col("d").alias("degree"),
        F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
        (F.lit(2) * F.coalesce("n_tri", F.lit(0))).cast("long").alias("cc_num"),
        (F.col("d") * (F.col("d") - 1)).cast("long").alias("cc_den"),
        F.when(
            F.col("d") >= 2,
            F.expr("(1000000 * 2 * coalesce(n_tri, 0)) div (d * (d - 1))"),
        )
        .otherwise(0)
        .cast("long")
        .alias("cc_ppm"),
    )


# ------------------------------------------- label propagation (LPA) ----
#
# Community detection by synchronous label propagation (Raghavan et al.
# 2007) on the near-dup candidate graph (docs = nodes, MinHash-LSH band
# collisions = undirected edges — the same relation k-core peels):
# every node starts as its own doc_id; each round it adopts the MOST
# FREQUENT label among its neighbors, ties broken to the SMALLEST label
# (the determinism rule the async original lacks). Fixed LPA_ROUNDS
# rounds = SQL-unrollable. Distinct from connected components (mode vs
# min — on a chain of weakly-bridged dense families LPA keeps the
# families apart where min-label floods) and from k-core (membership vs
# peeling). Output = nodes WITH at least one candidate edge (isolated
# docs are their own trivial community and would dominate the output
# with noise), so the result stays candidate-sized.
LPA_ROUNDS = 3


def _lpa_ctes(rounds: int = LPA_ROUNDS) -> str:
    """The LPA round chain as a WITH body (shared by the LPA oracle and
    the modularity oracle, which scores the same labeling): minhash ->
    cand -> und -> l0..l{rounds}, ending after l{rounds} with a
    trailing comma."""
    from snackfs_spark.operators.dedup import _MINHASH_CTE

    # MATERIALIZED rounds for the same reason as _kcore_oracle: the
    # chain references each prior round twice; inlining would re-run
    # the shingle scan exponentially.
    parts = [_MINHASH_CTE + ","]
    parts.append(
        "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band "
        "AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),"
    )
    parts.append(
        "und AS MATERIALIZED (SELECT doc_a, doc_b FROM cand "
        "UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM cand),"
    )
    parts.append(
        "l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS lbl FROM und),"
    )
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"cnt{r} AS MATERIALIZED (SELECT u.doc_a AS doc_id, p.lbl, "
            f"CAST(COUNT(*) AS BIGINT) AS c "
            f"FROM und u JOIN l{p} p ON p.doc_id = u.doc_b "
            f"GROUP BY u.doc_a, p.lbl),"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT doc_id, lbl FROM ("
            f"SELECT doc_id, lbl, ROW_NUMBER() OVER (PARTITION BY doc_id "
            f"ORDER BY c DESC, lbl) AS rn FROM cnt{r}) WHERE rn = 1),"
        )
    return "\n".join(parts)


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (
        "WITH "
        + _lpa_ctes(rounds)
        + f"""
    sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
              FROM l{rounds} GROUP BY lbl)
    SELECT l.doc_id, l.lbl AS community, s.community_size
    FROM l{rounds} l JOIN sizes s ON s.lbl = l.lbl
    """
    )


def lpa_labels_df(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """The converged (doc_id, lbl) relation after `rounds` synchronous
    LPA rounds — memoized per (session, sf_dir) at the registered round
    count so the LPA query and the modularity audit share ONE
    propagation loop (the cluster_labels_df pattern); deeper test runs
    build fresh."""
    if rounds == LPA_ROUNDS:
        return _lpa_labels_registered(spark, sf_dir)
    return _lpa_labels_build(spark, sf_dir, rounds)


@shared
def _lpa_labels_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lpa_labels_build(spark, sf_dir, LPA_ROUNDS)


def _lpa_labels_build(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    from snackfs_spark.operators.dedup import candidate_edges_df

    _, und = candidate_edges_df(spark, sf_dir)
    labels = und.select(F.col("doc_a").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("lbl")
    )
    for _ in range(rounds):
        cnt = (
            und.join(
                labels.select(F.col("doc_id").alias("doc_b"), "lbl").hint(
                    "shuffle_hash"
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        labels = (
            cnt.groupBy("doc_id")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("m")
            )
            .select("doc_id", F.col("m.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(
    spark: SparkSession, sf_dir: str, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Near-dup communities by synchronous label propagation: per doc
    (with >= 1 candidate edge) its community label after LPA_ROUNDS
    mode-adoption rounds (ties to the smallest doc_id) and the size of
    that community — the family grouping a curation pass reviews as a
    unit where pairwise dedup sees only edges.

    Scale: the corpus pays only the shared shingle -> signature -> band
    pipeline (dedup_minhash_lsh posture: candidates by equi-join, never
    O(n^2)); every round is one edge⋈label shuffle-hash join + a
    (node, label) count collapsing map-side + a per-node argmax as
    min(struct(-count, label)) — all candidate-sized relations,
    localCheckpointed so lineage stays flat (memoized via lpa_labels_df
    so the modularity audit scores the SAME materialized labeling
    instead of re-running the loop). Every node has an edge by
    construction, so no keep-own-label leg is needed."""
    labels = lpa_labels_df(spark, sf_dir, rounds)
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes.hint("shuffle_hash"), "lbl").select(
        "doc_id", F.col("lbl").alias("community"), "community_size"
    )


# --------------------------------------------- Jaccard link prediction ----
#
# Neighbor-overlap link prediction (Liben-Nowell & Kleinberg 2003) on
# the undirected token graph: for every NON-edge pair with at least
# one common neighbor, Jaccard(N(a), N(b)) = |common| / (deg a + deg b
# - |common|) — exact integers and a ppm floor, no floats. The corpus
# curation use: predicted-but-absent collocations mark vocabulary that
# behaves substitutably (same contexts, never adjacent) — a synonym /
# template-variant signal complementing the observed-edge lift ranking.
LP_TOP = 100


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH {_GRAPH_CTES},
    und AS (
      SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b FROM edges
      GROUP BY 1, 2
    ),
    nbr AS (SELECT a AS v, b AS n FROM und UNION SELECT b, a FROM und),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM nbr GROUP BY v),
    common AS (
      SELECT x.v AS a, y.v AS b, CAST(COUNT(*) AS BIGINT) AS common_nbrs
      FROM nbr x JOIN nbr y ON y.n = x.n AND x.v < y.v
      GROUP BY x.v, y.v
    ),
    nonedge AS (
      SELECT c.* FROM common c
      LEFT JOIN und u ON u.a = c.a AND u.b = c.b
      WHERE u.a IS NULL
    )
    SELECT a AS w1, b AS w2, common_nbrs,
           da.d AS deg1, db.d AS deg2,
           CAST((1000000 * common_nbrs) // (da.d + db.d - common_nbrs)
                AS BIGINT) AS jaccard_ppm
    FROM nonedge
    JOIN deg da ON da.v = a
    JOIN deg db ON db.v = b
    QUALIFY ROW_NUMBER() OVER (ORDER BY jaccard_ppm DESC, w1, w2) <= {LP_TOP}
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOP} predicted links in the token graph: non-adjacent
    token pairs ranked by exact neighbor-set Jaccard (common-neighbor
    count, both degrees, ppm floor) — the substitutable-vocabulary
    readout (same contexts, never co-adjacent).

    Scale: the corpus pays only the shared bigram scan (|V|²-bounded
    edge relation, PR_VOCAB vocabulary); the wedge join that counts
    common neighbors is a self-join of the <= 2|E| neighbor relation on
    the neighbor key (AQE handles hub skew), the existing-edge removal
    is a broadcast anti-join, and the final ranking is one
    TakeOrderedAndProject over a <= |V|² relation — no corpus-sized
    shuffle anywhere past the shared scan."""
    _, edges, _ = _token_graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nbr = (
        und.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .union(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .localCheckpoint(eager=False)
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x = nbr.alias("x")
    y = nbr.alias("y").hint("shuffle_hash")
    common = (
        x.join(y, (F.col("y.n") == F.col("x.n")) & (F.col("x.v") < F.col("y.v")))
        .groupBy(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_nbrs"))
    )
    nonedge = common.join(F.broadcast(und), ["a", "b"], "left_anti")
    return (
        nonedge.join(F.broadcast(deg.withColumnsRenamed({"v": "a", "d": "deg1"})), "a")
        .join(F.broadcast(deg.withColumnsRenamed({"v": "b", "d": "deg2"})), "b")
        .select(
            F.col("a").alias("w1"),
            F.col("b").alias("w2"),
            "common_nbrs",
            "deg1",
            "deg2",
            F.expr("(1000000 * common_nbrs) div (deg1 + deg2 - common_nbrs)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "w1", "w2")
        .limit(LP_TOP)
    )


# ------------------------------------------------ modularity score ----
#
# Newman-Girvan modularity of the LPA labeling on the SAME candidate
# graph — the quality readout for graph_label_propagation's output
# (did propagation find real structure, or shred it?). For undirected
# graph with m edges, communities c with L_c intra-edges and degree
# sum D_c:  Q = sum_c [ L_c/m - (D_c/2m)^2 ]  =  sum_c (4m*L_c - D_c^2)
# / (4m^2). Every quantity is an exact integer on decimal(38,0)/
# HUGEINT legs (4m^2 passes int64 once edges pass ~10^9, i.e. exactly
# the 100 TB regime); contributions CAN be negative, and both engines'
# integer division truncates toward zero (verified), so the ppm floor
# is portable as-is. Exact rationals ride along as strings, the
# chi-square convention.


def _modularity_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (
        "WITH "
        + _lpa_ctes(rounds)
        + f"""
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM cand),
    lab AS (SELECT doc_id, lbl AS community FROM l{rounds}),
    intra AS (
      SELECT la.community, CAST(COUNT(*) AS BIGINT) AS intra_edges
      FROM cand c
      JOIN lab la ON la.doc_id = c.doc_a
      JOIN lab lb ON lb.doc_id = c.doc_b AND lb.community = la.community
      GROUP BY la.community
    ),
    deg AS (
      SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY doc_a
    ),
    comm AS (
      SELECT la.community,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d.d) AS BIGINT) AS degree_sum
      FROM lab la JOIN deg d ON d.doc_id = la.doc_id
      GROUP BY la.community
    ),
    contrib AS (
      SELECT c.community, c.n_nodes,
             COALESCE(i.intra_edges, 0) AS intra_edges,
             c.degree_sum,
             4 * m.m * COALESCE(i.intra_edges, 0)
               - CAST(c.degree_sum AS HUGEINT) * c.degree_sum AS num
      FROM comm c LEFT JOIN intra i ON i.community = c.community
      CROSS JOIN m
    ),
    q AS (
      SELECT CAST(SUM(num) AS HUGEINT) AS q_num,
             CAST(4 AS HUGEINT) * MAX(m.m) * MAX(m.m) AS q_den
      FROM contrib CROSS JOIN m
    )
    SELECT c.community, c.n_nodes, c.intra_edges, c.degree_sum,
           CAST(c.num AS VARCHAR) AS contrib_num,
           CAST(q.q_num AS VARCHAR) AS q_num,
           CAST(q.q_den AS VARCHAR) AS q_den,
           CAST((1000000 * q.q_num) // q.q_den AS BIGINT) AS q_ppm
    FROM contrib c CROSS JOIN q
    """
    )


@register("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity audit of the LPA communities: per community its node
    count, intra-edge count, degree sum, and exact contribution
    numerator (4m*L_c - D_c², possibly negative), plus the global
    modularity Q as an exact rational (q_num / q_den strings) and its
    ppm truncation — the did-the-clustering-find-structure readout
    (Q near 0 = no better than random; the same candidate graph and
    labeling as graph_label_propagation, so the score audits exactly
    what that operator shipped).

    Scale: the corpus pays only the shared shingle -> signature -> band
    pipeline plus the LPA rounds (candidate-sized); the scoring adds
    two candidate-sized equi-joins (edge endpoints -> labels), one
    degree aggregate, and community-sized algebra. The 4m² denominator
    rides decimal(38,0) because it passes int64 at ~10^9 edges — the
    100 TB regime, not a test-scale hypothetical."""
    labels = lpa_labels_df(spark, sf_dir, LPA_ROUNDS).select(
        "doc_id", F.col("lbl").alias("community")
    )
    from snackfs_spark.operators.dedup import candidate_edges_df

    cand, und = candidate_edges_df(spark, sf_dir)
    d38 = "decimal(38,0)"
    m = cand.agg(F.count(F.lit(1)).cast(d38).alias("m"))
    la = labels.select(F.col("doc_id").alias("doc_a"), "community")
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("community").alias("community_b")
    )
    intra = (
        cand.join(la.hint("shuffle_hash"), "doc_a")
        .join(lb.hint("shuffle_hash"), "doc_b")
        .filter(F.col("community") == F.col("community_b"))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = und.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    comm = (
        labels.join(deg.hint("shuffle_hash"), "doc_id")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    contrib = (
        comm.join(F.broadcast(intra), "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            (
                F.lit(4).cast(d38) * F.col("m") * F.coalesce("intra_edges", F.lit(0))
                - F.col("degree_sum").cast(d38) * F.col("degree_sum")
            ).alias("num"),
            F.col("m"),
        )
        .localCheckpoint(eager=False)
    )
    q = contrib.agg(
        F.sum("num").cast(d38).alias("q_num"),
        (F.lit(4).cast(d38) * F.max("m") * F.max("m")).cast(d38).alias("q_den"),
    )
    return contrib.crossJoin(F.broadcast(q)).select(
        "community",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        F.col("num").cast(d38).cast("string").alias("contrib_num"),
        F.col("q_num").cast("string").alias("q_num"),
        F.col("q_den").cast("string").alias("q_den"),
        F.expr("(CAST(1000000 AS decimal(38,0)) * q_num) div q_den")
        .cast("long")
        .alias("q_ppm"),
    )
