"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Parquet scans give Catalyst predicate pushdown
and column pruning for free — every query should show `PushedFilters` /
pruned `ReadSchema` in `.explain("formatted")`.

Schema once per file version: a read without a schema makes Spark infer
one, which costs a Spark job (a footer read for parquet, a scan of every
record for JSON) on every call. `read_inferred` keeps the schema Spark
inferred, keyed on the read's path and options and on the length and
modification time of every file the read covers (`fsutil.file_signature`,
one listing). A repeat read of unchanged files passes that schema to the
reader, which plans the same scan and runs no job. A new path, a new or
deleted file, or a rewritten one (new length or mtime) misses and infers
again, so inference errors (a missing path, a malformed record under
FAILFAST) surface exactly as without the cache. The cache belongs to the
SparkSession, since inference depends on its confs.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gtec_etl_spark import fsutil

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

# probed file -> (length, mtime_ns, unit)
_EVENTS_TS_UNIT_CACHE: dict[str, tuple[int, int, str]] = {}


def events_ts_unit(path: str) -> str:
    """Parquet time unit of the `ts` column ('ns'/'us'/'ms'/'s'), read from
    one footer driver-side. Cached per probed file, length and mtime: a
    100 TB lake directory is still a single footer read, a mixed
    nanos/micros lake is handled per-directory instead of by a global
    config that would silently corrupt whichever unit the config doesn't
    match, and a file rewritten in place with another unit is probed
    again instead of being read with the old unit (1000× off)."""
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
    st = os.stat(probe)
    version = (st.st_size, st.st_mtime_ns)
    hit = _EVENTS_TS_UNIT_CACHE.get(probe)
    if hit is not None and hit[:2] == version:
        return hit[2]
    # Single-footer assumption: one file's unit stands for the whole
    # directory. Each sf dir is written by one generator pass, so units
    # are uniform per directory; a genuinely mixed-unit directory would
    # need a per-file probe (documented limitation).
    field = _pq.read_schema(probe).field("ts")
    # A plain int64 ts (no logical type) is epoch-nanos in the oldest
    # layout; treat it like nanos so the long+div-1000 path applies.
    unit = getattr(field.type, "unit", None) or "ns"
    _EVENTS_TS_UNIT_CACHE[probe] = (*version, unit)
    return unit


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    if events_ts_unit(path) == "ns":
        df = spark.read.schema(EVENTS_NANOS_FILE_SCHEMA).parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # micros (or coarser): natively scannable; pin the schema anyway so
    # column order/types are identical on both paths.
    return spark.read.schema(EVENTS_SCHEMA).parquet(path)


# SparkSession -> {(format, path, options): (file signature, schema)}
_INFERRED: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def read_inferred(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    """`spark.read.format(fmt).options(**options).load(path)`, inferring
    the schema only on the first read of each file version (module
    docstring). The signature is taken before the read, so a file
    rewritten during inference misses on the next call."""
    reader = spark.read.format(fmt).options(**options)
    key = (fmt, path, tuple(sorted((k, str(v)) for k, v in options.items())))
    sig = fsutil.file_signature(spark, path)
    known = _INFERRED.setdefault(spark, {})
    hit = known.get(key)
    if sig is not None and hit is not None and hit[0] == sig:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    if sig is not None:
        known[key] = (sig, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return read_inferred(spark, "parquet", path)


class _LazyTables(Mapping):
    """Mapping of table name -> DataFrame that plans each table's scan
    only on first access, with its schema from `read_inferred` (a footer
    job only if no earlier read saw the same file version). A query
    touching 3 tables plans 3 scans, and a bad/unreadable table can never
    block queries that don't use it.

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
