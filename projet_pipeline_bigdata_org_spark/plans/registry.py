"""Central registry mapping query names to DataFrame builders + oracle SQL.

Every implemented operator from SURVEY.md §2 registers here via the
``@query`` decorator; ``__spark_entry__.queries()`` / ``oracle_sql()`` are
thin views over this registry. Oracle SQL is ANSI SQL DuckDB can run against
the pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings).

Parity rules (see tests/test_oracle_parity.py, which enforces them):
- alias every computed column identically in Spark and SQL;
- aggregate doubles through exact DECIMAL casts, cast the final result to
  DOUBLE (order-independent, bit-identical across engines);
- emit derived timestamps as formatted strings; cast int-valued scalar
  function results to BIGINT on the Spark side (DuckDB's default int width).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a ``(spark, sf_dir) -> DataFrame`` builder."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tuple(tags)
        )
        return fn

    return deco


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in sorted(_REGISTRY.items())
        if spec.oracle is not None
    }


def all_specs() -> dict[str, QuerySpec]:
    return dict(sorted(_REGISTRY.items()))
