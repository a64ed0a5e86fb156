"""Scalar/aggregate helper functions shared by the engine.

Includes the oracle-stable aggregation helpers: floating-point sums are
order-dependent under parallel execution, so every headline aggregate that
must be reproducible across engines/partitionings is computed as an exact
DECIMAL sum and only then cast back to double. This also future-proofs the
results against AQE re-partitioning at cluster scale — the answer no longer
depends on the physical plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide-enough decimal for 100TB-scale sums of ~1e5-magnitude measures.
# Terms at precision 18 stay in Spark's compact Long-backed decimal
# representation (precision > 18 forces Decimal128/BigDecimal per row —
# measured 1.8s vs 1.1s for q1's seven aggregates over 600k rows); the
# SUM accumulator auto-widens to (28,6), which caps at 10^22 — room for
# 10^17 rows of 10^5-scale measures. Scale 6 is unchanged, so the
# quantized per-term values (and therefore the exact sums and the oracle
# hash) are identical to the old (38,6) terms.
#
# CONTRACT — |term| < 1e12: decimal(18,6) holds 12 integer digits, so a
# per-row term at or beyond 1e12 overflows the cast — under Spark 4's
# default ANSI mode the query FAILS loudly (the safe behavior); under
# legacy non-ANSI it becomes NULL and silently vanishes from the
# "exact" sum (the old (38,6) terms would have absorbed it). Every
# current measure is ~1e5;
# tests/test_properties.py::test_dsum_term_domain_guard pins both
# behaviors so a regression or a config flip is caught.
_DECIMAL = "decimal(18,6)"
DSUM_MAX_ABS_TERM = 1e12


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Exact (order-independent) sum of a double measure, returned as double.

    Terms must satisfy |v| < 1e12 (DSUM_MAX_ABS_TERM) — see the _DECIMAL
    contract note above; larger terms overflow to NULL and vanish from
    the sum under non-ANSI mode."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DECIMAL)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum divided by count.

    Same |term| < 1e12 domain as dsum."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DECIMAL)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def pround(col: Column | str, digits: int = 6) -> Column:
    """Portable half-up rounding: floor(x·10^d + 0.5)/10^d.

    Spark's round() rounds via exact BigDecimal; DuckDB's multiplies in
    doubles — they can disagree in the last ulp. This formula is the same
    IEEE double sequence on both engines, so rounded outputs hash-match.
    Oracle-side equivalent: ``floor(x * 1e{d} + 0.5) / 1e{d}``.
    """
    m = float(10**digits)
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * m + F.lit(0.5)) / F.lit(m)


def decimal_year(ts: Column) -> Column:
    """Timestamp → decimal year (reference: nzgmdb/calculation/aftershocks.py:117-140).

    year + elapsed_seconds_since_jan1 / total_seconds_in_year.
    """
    year = F.year(ts)
    jan1 = F.to_timestamp(F.concat(year.cast("string"), F.lit("-01-01")))
    next_jan1 = F.to_timestamp(F.concat((year + 1).cast("string"), F.lit("-01-01")))
    elapsed = F.unix_timestamp(ts) - F.unix_timestamp(jan1)
    total = F.unix_timestamp(next_jan1) - F.unix_timestamp(jan1)
    return year.cast("double") + elapsed / total


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (reference r_epi: geonet.py:309-315 uses
    obspy gps2dist_azimuth; haversine is the engine's JVM-side equivalent)."""
    r = 6371.0088
    phi1, phi2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    a = F.sin(dphi / 2) ** 2 + F.cos(phi1) * F.cos(phi2) * F.sin(dlam / 2) ** 2
    return F.lit(2 * r) * F.asin(F.sqrt(a))
