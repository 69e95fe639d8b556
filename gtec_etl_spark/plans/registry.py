"""Query registry: every implemented operator from SURVEY.md §2 registers a
named query (Spark DataFrame implementation) plus, where SQL-expressible, a
DuckDB-runnable ANSI-SQL oracle over the same parquet tables.

`queries()` returns the Spark callables and `oracles()` the oracle strings,
both sorted by query name, so every process lists them in the same order
whatever it imported first; `__spark_entry__.py` exposes the two. Column
names are aliased identically on both sides: the parity test
(tests/test_oracle_parity.py) compares values after sorting columns by
name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query under `name`,
    with an optional DuckDB oracle SQL string."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


def specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return {name: _REGISTRY[name] for name in sorted(_REGISTRY)}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in specs().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in specs().items()
        if spec.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every plans module so decorators run."""
    global _LOADED
    if _LOADED:
        return
    from gtec_etl_spark.plans import (  # noqa: F401
        etl_queries,
        extended_queries,
        graph_queries,
        incremental_queries,
        live_queries,
        profile_queries,
        relational,
        sink_queries,
        source_queries,
        sql_surface,
        streaming_batch,
        triples_queries,
        window_queries,
    )

    _LOADED = True
