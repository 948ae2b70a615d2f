"""Query registry + determinism helpers.

The driver compares each Spark query to its DuckDB oracle by row count,
schema, and an order-insensitive value hash. Two rules keep that hash
bit-stable across engines:

1. **Decimal-accumulated float aggregates.** Summing doubles is
   order-dependent; Spark's parallel partial aggregation and DuckDB's
   single-threaded sum round differently in the low bits. All money/metric
   columns in the testdata are 2-decimal doubles, so we cast to
   ``DECIMAL(18,2)`` (exact), aggregate exactly, and cast the final result
   back to DOUBLE — bit-identical in both engines regardless of order.
   Averages are ``exact_sum / count`` in double (same operands → same bits).

2. **Deterministic row sets.** Every LIMIT/top-k orders by a unique
   tiebreaker; no query depends on partition order.

These helpers exist for parity with the oracle AND for scale correctness:
at 100 TB the decimal aggregation also avoids drift across retries/AQE
re-plans, which matters for idempotent re-runs (the reference's
at-least-once delivery model, lib.ts:694-710).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


# --- determinism helpers ----------------------------------------------------

DEC = "decimal(18,2)"  # exact container for the testdata's 2-dp doubles
DEC_SMALL = "decimal(4,2)"  # discounts / tax rates in [0,1]


def dec(col: str | Column, typ: str = DEC) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, alias: str, typ: str = DEC) -> Column:
    """Order-independent exact sum of a 2-dp double column, as double."""
    return F.sum(dec(col, typ)).cast("double").alias(alias)


def davg(col: str | Column, alias: str, typ: str = DEC) -> Column:
    """Exact-sum / count average (deterministic double)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c, typ)).cast("double") / F.count(F.lit(1))).alias(alias)


def dsum_expr(expr: Column, alias: str) -> Column:
    """Exact sum of an already-decimal expression, as double."""
    return F.sum(expr).cast("double").alias(alias)

