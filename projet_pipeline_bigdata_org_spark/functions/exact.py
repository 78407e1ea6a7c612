"""Exact-numeric helpers for cross-engine (Spark ↔ DuckDB) bit parity.

Floating-point SUM/AVG are order-dependent; Spark and DuckDB will disagree in
the last ulps on any large aggregation. The testdata's monetary columns carry
≤2 decimal digits (verified on sf0.01), so we aggregate through DECIMAL —
exact and order-independent — and cast the *final* value to DOUBLE. Both
engines then perform the identical single rounding, yielding bit-identical
results. The same trick costs nothing at 100 TB scale (decimal sums are
hash-agg friendly and still map-side-combinable).

DuckDB twins (for oracle SQL):
    dsum(c)  ->  CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE)
    davg(c)  ->  CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / COUNT(c)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: exact for any value with ≤6 decimal digits and |x| < 1e12
DEC = T.DecimalType(18, 6)


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent double sum: SUM(DECIMAL) → DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Order-independent double average: exact decimal sum, double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)
