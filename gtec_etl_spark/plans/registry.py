"""Query registry: every implemented operator from SURVEY.md §2 registers a
named query (Spark DataFrame implementation) plus, where SQL-expressible, a
DuckDB-runnable ANSI-SQL oracle over the same parquet tables.

The driver contract (__spark_entry__.py) reads this registry: `queries()`
returns the Spark callables, `oracle_sql()` the oracle strings. Column names
are aliased identically on both sides — the correctness gate hashes values
after sorting columns by name.
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
    return dict(_REGISTRY)


_VERIFIED_CACHE: tuple[tuple[tuple[str, float], ...], dict[str, int]] | None = None


def _driver_verified_rounds() -> dict[str, int]:
    """Map name -> LATEST round with a GREEN row in a driver
    CORRECTNESS_r*.json at the repo root. Cached per process keyed on the
    (path, mtime) signature of the artifact set, so repeated
    ordered_specs() calls (one per test / driver invocation) don't re-glob
    and re-parse thirteen JSON files each time (ADVICE r13). Used only to ORDER the registry
    (never to change its contents): never-driver-green queries are listed
    first so a driver that samples a prefix covers them before re-checking
    already-proven ones, and proven queries are then ordered
    OLDEST-green-round-first (VERDICT r12 #7: the engine under a query
    keeps changing — shared operators like the integer graph encoding or
    the LSH gate touch dozens of queries — so each driver round should
    re-certify the stalest ~50 rather than whatever registration order
    happens to surface). A sampled query that errored or hash-mismatched
    does NOT count as verified — it needs a retry slot just as much as a
    never-sampled one (the r4 lesson: q15/q18 sat behind proven queries
    for three rounds because any sampling, even a red row, demoted
    them)."""
    import glob
    import json
    import os
    import pathlib
    import re

    global _VERIFIED_CACHE
    root = pathlib.Path(__file__).resolve().parents[2]
    paths = sorted(glob.glob(str(root / "CORRECTNESS_r*.json")))
    sig = tuple((p, os.path.getmtime(p)) for p in paths)
    if _VERIFIED_CACHE is not None and _VERIFIED_CACHE[0] == sig:
        return dict(_VERIFIED_CACHE[1])
    seen: dict[str, int] = {}
    for path in paths:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            # Require an explicit POSITIVE signal: hash_match True, or —
            # only when NO hash comparison was recorded (oracle-less
            # queries) — rows_match True. A hash-RED row must not count as
            # verified even though its row counts matched (a query can sit
            # rows-green/hash-red for rounds; counting it would push it
            # past the sampled query prefix exactly when it most needs a
            # retry slot). A timing-only or partially-written
            # record (all fields absent/None) must not count either — that
            # would demote a never-actually-checked query, the r4 failure
            # mode this ordering guards against.
            if row.get("hash_match") is True or (
                row.get("hash_match") is None and row.get("rows_match") is True
            ):
                seen[name] = max(seen.get(name, 0), rnd)
    _VERIFIED_CACHE = (sig, dict(seen))
    return seen


def ordered_specs() -> dict[str, QuerySpec]:
    """Registry specs ordered for prefix sampling: never-driver-verified
    queries first (registration order preserved), then proven queries
    STALEST-FIRST — ascending by the latest round that certified them
    (ties keep registration order). A driver that samples a ~50-query
    prefix therefore (1) certifies every new query, then (2) rotates
    re-certification through whatever has gone longest unchecked."""
    all_specs = specs()
    verified = _driver_verified_rounds()
    fresh = {n: s for n, s in all_specs.items() if n not in verified}
    idx = {n: i for i, n in enumerate(all_specs)}
    proven_names = sorted(
        (n for n in all_specs if n in verified),
        key=lambda n: (verified[n], idx[n]),
    )
    proven = {n: all_specs[n] for n in proven_names}
    return {**fresh, **proven}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in ordered_specs().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in ordered_specs().items()
        if spec.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every plans module so decorators run."""
    global _LOADED
    if _LOADED:
        return
    from gtec_etl_spark.plans import (  # noqa: F401
        dedup_queries,
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
        text_queries,
        triples_queries,
        window_queries,
    )

    _LOADED = True
