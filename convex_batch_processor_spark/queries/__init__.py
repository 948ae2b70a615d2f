"""Named query registry: every operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable paired with its DuckDB oracle SQL.

Importing this package populates ``QUERIES``; submodules register at import.
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, register  # noqa: F401

from . import (  # noqa: F401
    relational, analytics, analytics2, dataflow, misc, tpch, tpch_star, llm,
    llm2, llm3, llm4, llm5, llm6, llm7, llm8, llm9, llm10, llm11, llm12, llm13,
    llm14, llm15, llm16, llm17, llm18, llm19, llm20, llm21, llm22, llm23,
    llm24, llm25, llm26, llm27, llm28, llm29, llm30, llm31, llm32, llm33,
    llm34, llm35, llm36, llm37, llm38, llm39, llm40, llm41, llm42, llm43,
    llm44, llm45, llm46, llm47, llm48, llm49, llm50, llm51, llm52, llm53,
    llm54, llm55, llm56, llm57, llm58, llm59, llm60, llm61, llm62, llm63,
    llm64, llm65, llm66, llm67, llm68, llm69, llm70, llm71, llm72, llm73,
    llm74, llm75, llm76,
)


def spark_queries():
    """The ``queries()`` dict for the driver contract."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sqls():
    """The ``oracle_sql()`` dict for the driver contract (SQL-expressible only)."""
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
