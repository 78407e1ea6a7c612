"""Skew-mitigation utilities: salted aggregation and salted join.

AQE's skew-join handling (enabled in session.py) covers sort-merge joins at
runtime; explicit salting is the declarative fallback for hot keys in
aggregations and broadcast-ineligible joins at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def with_salt(df: DataFrame, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Add a uniform ``_salt`` column derived from a stable row hash (not
    rand(): deterministic across retries, which keeps shuffle outputs
    recomputable)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_count(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Two-phase count for skewed group keys: groupBy(key, salt) partial →
    groupBy(key) final. Catalyst's partial aggregation usually makes this
    unnecessary; it matters for high-cardinality-payload aggs
    (collect_list/exact distinct) where partial combine can't shrink."""
    partial = with_salt(df).groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("n"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Skewed equi-join: salt the big side's key, replicate the small side
    across all salts, join on (key, salt). Use when the small side is too
    big to broadcast and the big side's key distribution is hot."""
    # salt from stable row content (NOT monotonically_increasing_id, which
    # changes across task retries/stage recompute and would silently
    # duplicate or drop join rows after a shuffle-fetch failure)
    big_s = with_salt(big, n_salts)
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt")
    small_r = small.select("*", salts)
    out = big_s.join(small_r, [key, "_salt"]).drop("_salt")
    return out
