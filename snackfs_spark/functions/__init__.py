"""Shared column-expression helpers.

Everything here returns JVM-side Column expressions (whole-stage-codegen
friendly); no Python UDFs. The decimal helpers exist for oracle parity:
double summation is order-dependent, so any aggregate the DuckDB oracle
hash-checks is computed over exact decimals and only cast back to double
at the end — bit-identical regardless of partitioning/parallelism, which
also makes results stable across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale chosen so the 2-decimal synthetic money columns round-trip exactly:
# a double like 12.31 is within 5e-15 of the decimal, so rounding to 2
# fractional digits is unambiguous in both Spark and DuckDB.
MONEY = "decimal(18,2)"
RATE = "decimal(18,2)"


def money(col: str | Column) -> Column:
    """Exact-decimal view of a 2-decimal money column stored as double."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def rate(col: str | Column) -> Column:
    """Exact-decimal view of a 2-decimal rate column (discount/tax)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(RATE)


def dsum(col: Column, alias: str) -> Column:
    """Deterministic sum: exact decimal accumulation, double result.

    Portability bound (DESIGN.md rule 8): once the scaled sum crosses
    2^53, DuckDB's decimal->double cast (hugeint conversion + scale
    divide = TWO roundings) can land 1 ULP away from Spark's correctly
    rounded BigDecimal cast. Sums that can cross 2^53 at target scale
    must use dsum_lattice (both engines then run the identical
    int64->double + divide sequence)."""
    return F.sum(col).cast("double").alias(alias)


def dsum_lattice(col: Column, alias: str, scale: int) -> Column:
    """Deterministic sum for >2^53-scale money aggregates: quantize each
    exact-decimal row onto the integer lattice (col * scale is integral
    by construction — scale must be 10^(decimal scale)), sum as int64,
    and emit CAST(AS DOUBLE)/scale. int64->double conversion and IEEE
    division are correctly rounded in BOTH engines, so the result is
    bit-identical regardless of magnitude (oracle mirror:
    CAST(SUM(CAST(x * scale AS BIGINT)) AS DOUBLE) / scale). Headroom:
    int64 overflows at group sums of 9.2e18/scale — beyond that the
    documented lever is a decimal(38,0)/HUGEINT limb with a digit-split
    cast, not a wider direct cast (DuckDB's wide-decimal->double is the
    very footgun this avoids)."""
    return (
        (F.sum((col * scale).cast("long")).cast("double") / F.lit(scale))
        .alias(alias)
    )


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def ts_str(col: str | Column) -> Column:
    """Render a timestamp as a microsecond-precision string. Timestamp
    OUTPUT columns are always emitted as strings: pandas surfaces Spark
    timestamps as datetime64[ns] but DuckDB's as datetime64[us], and a
    unit-sensitive value-hash would see different bit patterns for equal
    instants. Strings hash identically everywhere. (Verified: Spark's
    SSSSSS and DuckDB's %f render the same six fractional digits.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_SPARK)


def md5_fp(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — the modulus-free
    engine-wide fingerprint, bit-identical to DuckDB's
    ('0x' || substr(md5(x), 1, 15))::BIGINT. The ONE cross-engine hash
    expression (md5_bucket is this mod m; BFS/PQ seed ranks, stratified
    split ranks, and bloom bit positions all derive from it); change it
    nowhere without changing every oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_bucket(col: Column, modulus: int) -> Column:
    """md5_fp(col) % modulus — the bucketed form (deterministic fault
    injection, sampling rings, split assignment live on it)."""
    return md5_fp(col) % modulus


# The ONE stopword-permille quality score (cheap C4-style fluency
# proxy, 0..1000): shared by the Pareto-front objective, the AUC
# calibration eval, the DPO preference pairing, and their oracles/
# tests. Like md5_bucket, change it nowhere without changing every
# consumer — drift between copies would silently decouple operators
# that claim to score the same thing. Both expression strings derive
# from the ONE tuple so the word list cannot fork either.
STOPWORDS = ("the", "a", "and", "with", "of", "in")
_STOPWORD_LIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
STOPWORD_PERMILLE_SPARK = (
    "(1000 * size(filter(split(text, ' '),"
    f" t -> t IN ({_STOPWORD_LIST_SQL}))))"
    " div size(split(text, ' '))"
)
STOPWORD_PERMILLE_SQL = (
    "(1000 * len(list_filter(string_split(text, ' '),"
    f" t -> t IN ({_STOPWORD_LIST_SQL}))))"
    " // len(string_split(text, ' '))"
)
