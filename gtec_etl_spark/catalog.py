"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Parquet scans give Catalyst predicate pushdown
and column pruning for free — every query should show `PushedFilters` /
pruned `ReadSchema` in `.explain("formatted")`.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The driver's events table has stored `ts` with different parquet logical
# types across testdata generations: TIMESTAMP(NANOS) (which a default
# session refuses to scan — PARQUET_TYPE_ILLEGAL) and TIMESTAMP(MICROS)
# (natively readable). Assuming either unit globally silently corrupts
# timestamps 1000× when the other shows up, so the reader is FOOTER-DRIVEN:
# one driver-side pyarrow read_schema of a single footer picks the path per
# directory, never a session-global conf. For NANOS files an explicit user
# schema with `ts long` reads the raw int64 on ANY session (no
# spark.sql.legacy.parquet.nanosAsLong mutation); `div 1000` then truncates
# to micros — the same floor DuckDB applies reading ns.
EVENTS_NANOS_FILE_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)
# Logical schema once ts is a real timestamp — what every downstream plan
# (batch and streaming) sees, and what a MICROS file stores natively.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)

_EVENTS_TS_UNIT_CACHE: dict[str, str] = {}


def events_ts_unit(path: str) -> str:
    """Parquet time unit of the `ts` column ('ns'/'us'/'ms'/'s'), read from
    one footer driver-side. Cached per path: a 100 TB lake directory is
    still a single footer read, and a mixed nanos/micros lake is handled
    per-directory instead of by a global config that would silently corrupt
    whichever unit the config doesn't match."""
    if path not in _EVENTS_TS_UNIT_CACHE:
        import glob as _glob

        import pyarrow.parquet as _pq

        probe = path
        if os.path.isdir(path):
            probe = os.path.join(path, "*.parquet")
        if _glob.has_magic(probe):
            files = sorted(_glob.glob(probe))
            if not files:
                # Without this, pq.read_schema would receive the literal
                # '*.parquet' magic string and raise a confusing
                # FileNotFoundError (e.g. an empty streaming landing dir, or
                # a dataset with only nested part directories).
                raise FileNotFoundError(
                    f"no parquet files found under {path!r} — cannot probe"
                    " the events ts unit (empty directory, or data nested in"
                    " subdirectories the top-level glob does not reach)"
                )
            probe = files[0]
        # Single-footer assumption: one file's unit stands for the whole
        # directory. The driver writes each sf dir with one generator pass,
        # so units are uniform per directory; a genuinely mixed-unit
        # directory would need a per-file probe (documented limitation).
        field = _pq.read_schema(probe).field("ts")
        unit = getattr(field.type, "unit", None)
        # A plain int64 ts (no logical type) is epoch-nanos in the r1-era
        # layout; treat it like nanos so the long+div-1000 path applies.
        _EVENTS_TS_UNIT_CACHE[path] = unit or "ns"
    return _EVENTS_TS_UNIT_CACHE[path]


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    if events_ts_unit(path) == "ns":
        df = spark.read.schema(EVENTS_NANOS_FILE_SCHEMA).parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # micros (or coarser): natively scannable; pin the schema anyway so
    # column order/types are identical on both paths.
    return spark.read.schema(EVENTS_SCHEMA).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return spark.read.parquet(path)


class _LazyTables(Mapping):
    """Mapping of table name -> DataFrame that reads each parquet footer
    only on first access. A query touching 3 tables plans 3 scans, and a
    bad/unreadable table can never block queries that don't use it.

    A real collections.abc.Mapping (NOT a dict subclass, whose C-level
    fast paths like dict(t) / {**t} would bypass lazy loading and see an
    empty store): every protocol operation — get/items/values/in/dict() —
    derives from __getitem__/__iter__/__len__, so all of them agree and
    materializing the whole mapping explicitly loads all tables."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        if name not in self._cache:
            self._cache[name] = table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __iter__(self):
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Lazy per-table access: tables load on first subscript, not here."""
    return _LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view (parse-once-query-many; the
    reference's shared-graph pattern, SURVEY.md §4)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
