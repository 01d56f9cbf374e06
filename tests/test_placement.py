"""The token-ring ownership rule (fsmodel.owned_by and its DuckDB twin
owned_by_sql) at the range edges. The fixture's LCG block tokens rarely
land on an edge, so these synthetic tokens pin the half-open (lo, hi]
bounds and the wraparound range in both engines."""

from __future__ import annotations

from snackfs_spark.sources.fsmodel import (
    RING_NODES,
    RING_STEP,
    TOKEN_SPACE,
    fs_sql,
    owned_by_sql,
    place,
    ring_df,
)
from tests.conftest import SF_ORACLE

EDGE_TOKENS = sorted(
    {0, 1, (RING_NODES - 1) * RING_STEP + 1, RING_NODES * RING_STEP, TOKEN_SPACE - 1}
    | {k * RING_STEP for k in range(RING_NODES)}
    | {k * RING_STEP + 1 for k in range(RING_NODES)}
)


def _node(token: int) -> int:
    """Range k is (k·RING_STEP, (k+1)·RING_STEP]; the last range wraps,
    so it also owns 0 and every token above its start."""
    if token == 0:
        return RING_NODES - 1
    return min((token - 1) // RING_STEP, RING_NODES - 1)


def _owners(rows) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for token, host in rows:
        out.setdefault(token, []).append(host)
    return out


def test_edge_tokens_have_one_owner_in_both_engines(spark, duck):
    hosts = {r["tok_start"]: r["host"] for r in ring_df(spark, SF_ORACLE).collect()}
    want = {t: [hosts[_node(t) * RING_STEP]] for t in EDGE_TOKENS}

    tokens = spark.createDataFrame([(t,) for t in EDGE_TOKENS], "token bigint")
    got_spark = _owners(
        (r["token"], r["host"])
        for r in place(spark, SF_ORACLE, tokens).select("token", "host").collect()
    )
    listed = ", ".join(str(t) for t in EDGE_TOKENS)
    got_duck = _owners(
        duck.execute(
            fs_sql(
                f""", t AS (SELECT CAST(unnest([{listed}]) AS BIGINT) AS token)
                SELECT t.token, r.host FROM t JOIN ring r
                  ON {owned_by_sql("t.token", "r.tok_start", "r.tok_end")}""",
                "ring",
            )
        ).fetchall()
    )
    assert got_spark == want
    assert got_duck == want
