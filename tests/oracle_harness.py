"""Local replica of the driver's correctness gate: run each registered
query through Spark AND its oracle SQL through DuckDB on the same parquet,
then compare row-count + column names + order-insensitive values.

Comparison is EXACT on values (after canonicalization) — the engine is
designed so aggregates are deterministic (decimal accumulation), so any
mismatch is a real semantics bug, not float noise.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd

from snackfs_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon_cell(v: Any) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    canon = {c: df[c].map(_canon_cell) for c in cols}
    return sorted(zip(*[canon[c] for c in cols])) if cols else []


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_rows, o_rows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            (a, b) for a, b in zip(s_rows, o_rows) if a != b
        ][:5]
        only_s = [r for r in s_rows if r not in set(o_rows)][:3]
        only_o = [r for r in o_rows if r not in set(s_rows)][:3]
        problems.append(
            f"values differ; first zipped diffs={diffs}; spark-only={only_s}; oracle-only={only_o}"
        )
    return problems


def run_query_pair(spark, con, query, sf_dir: str) -> list[str]:
    sdf = query.fn(spark, sf_dir).toPandas()
    if query.oracle is None:
        return []
    odf = con.execute(query.oracle).fetchdf()
    return compare(sdf, odf)
