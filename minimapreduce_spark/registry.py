"""Query registry: the engine's public query surface.

Every operator from SURVEY §2 is registered here as a named query:
  - ``fn(spark, sf_dir) -> DataFrame`` — the Spark plan
  - ``oracle`` — equivalent ANSI SQL for the DuckDB correctness oracle
    (None for genuinely non-SQL-expressible ops → driver does a
    rows-only check)
  - ``bench=True`` marks headline queries timed by bench.py

``queries()`` and ``oracles()`` list the queries in registration order,
which is module import order in ``minimapreduce_spark.queries``; that is
the only query order.

This mirrors the reference's test protocol: distributed output must
match a sequential oracle order-insensitively (main/test-mr.sh:59-67),
generalized from `sort | cmp` to row-count + schema + value-hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None = None
    bench: bool = False
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, bench: bool = False) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the engine's surface."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(fn=fn, oracle=oracle, bench=bench, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items() if q.bench}
