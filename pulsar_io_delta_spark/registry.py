"""Query registry: the single source of truth for the driver contract.

Every declared query registers a ``(spark, sf_dir) -> DataFrame``
builder plus (when SQL-expressible) a DuckDB oracle string. The driver
compares them at sf0.01 by row-count + schema + order-insensitive
value-hash, so both sides follow FIXTURES.md §5 determinism rules:

- floating aggregates over many rows are summed as DECIMAL (exact,
  order-independent) then cast back to double and ``round(_, 4)``;
- timestamps leave queries as epoch seconds (BIGINT) or DATE;
- every computed integer column is cast to BIGINT on both engines;
- top-k carries a total-order tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def reorder(first: list[str]) -> None:
    """Put ``first`` at the head of the registry, in that order; every
    other query follows in registration order."""
    head = set(first)
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for n in [*first, *(n for n in snapshot if n not in head)]:
        QUERIES[n] = snapshot[n]


def all_queries() -> dict[str, QuerySpec]:
    # Import for side effect: populates QUERIES.
    import pulsar_io_delta_spark.queries  # noqa: F401

    return QUERIES
