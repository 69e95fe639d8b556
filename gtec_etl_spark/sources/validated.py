"""Declared-schema validated readers — the S1 source family
(ccmm/gtex/parsers/util.py:31-105 in the reference).

The reference reads TSVs row-at-a-time, checking each cell against a
declared column spec (regex / closed vocabulary / integer-code decode /
nullability), indexes rows by primary key, and fatals with a line number on
the first violation. The Spark re-expression keeps the observable contract —
declared schema, per-column validation, duplicate-PK detection, ragged-row
detection, hard failure with row diagnostics — as a violations DataFrame;
fail-fast = assert it is empty (SURVEY.md §7.4 "fail-fast on a lazy engine").

Cost: read_tsv checks the header from the file's first line on the driver,
without a Spark job. Validation of any number of tables is one scan of
each file and one exchange: every row is tagged (table, row_key, its cell
violations), the tables are unioned, and one groupBy(table, row_key)
yields the cell and the duplicate-PK violations together. On valid input
assert_valid runs two jobs (the shuffle map stage and the bounded
collect), however many tables it checks.

All checks are native column expressions (rlike / isin / map lookup), so
no Python runs per row.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark import fsutil

#: The column read_tsv adds for the raw line of a row whose field count
#: differs from the declared schema; null on well-formed rows. Without it
#: CSV PERMISSIVE mode drops extra fields and nulls missing ones silently.
CORRUPT_COL = "__corrupt_record"

_VIOLATIONS = (
    "array<struct<row_key:string,column:string,value:string,check:string>>"
)


@dataclass
class ColumnSpec:
    """One declared column (the reference's column dicts:
    portal_files.py:16-108 — id, regex, cv, integer_cv, empty_ok)."""

    name: str
    regex: str | None = None
    cv: list[str] | None = None
    integer_cv: dict[int, str] | None = None
    empty_ok: bool = True
    dtype: str = "string"  # target type of the mapped column


@dataclass
class TableSpec:
    columns: list[ColumnSpec]
    primary_key: list[str] = field(default_factory=list)
    #: The table's name in violation diagnostics.
    name: str = ""

    def names(self) -> list[str]:
        return [c.name for c in self.columns]


class ValidationError(Exception):
    """Raised by fail-fast validation; carries a sample of violations."""

    def __init__(self, sample: list[dict]):
        self.sample = sample
        super().__init__(f"validation failed; first violations: {sample}")


def read_tsv(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    sep: str = "\t",
    comment: str | None = None,
) -> DataFrame:
    """Read a header-checked delimited file with all columns as raw strings
    (the reference's raw_value layer), plus CORRUPT_COL. Header names are
    verified against the declared schema positionally (parsers/util.py:
    42-47) from the first line that is neither blank nor a comment, read
    on the driver; `path` names one file.

    Column pruning is off for the read: a pruned scan tokenizes only the
    requested fields and so cannot tell a ragged row from a full one."""
    line = fsutil.first_line(spark, path, comment)
    header = next(csv.reader([line], delimiter=sep)) if line is not None else []
    if header != spec.names():
        raise ValueError(
            f"header mismatch: file has {header}, declared {spec.names()}"
        )
    schema = ", ".join(f"`{c}` string" for c in spec.names() + [CORRUPT_COL])
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("columnPruning", False)
    )
    if comment:
        reader = reader.option("comment", comment)
    return reader.schema(schema).csv(path)


def _violation(row_key: Column, column: Column, value: Column, check: str) -> Column:
    return F.struct(
        row_key.alias("row_key"),
        column.alias("column"),
        value.cast("string").alias("value"),
        F.lit(check).alias("check"),
    )


def _tag_rows(df: DataFrame, spec: TableSpec, table_no: int) -> DataFrame:
    """One row per input row: (__t, table, __pk, row_key, violations).
    row_key is the PK (a row id when there is none); __pk names the
    duplicate-PK column, null without a PK; violations holds the row's
    cell and row-shape violations.

    Each cell check from the reference (regex, closed vocabulary,
    integer-code membership, nullability) is a when() expression. A ragged
    row is a row_shape violation keyed by its file, with the raw line as
    the value; no line number, since the CSV reader exposes none without
    a second scan."""
    keyed = df.select(
        "*",
        (
            F.concat_ws("|", *[F.col(k) for k in spec.primary_key])
            if spec.primary_key
            else F.monotonically_increasing_id().cast("string")
        ).alias("__key"),
    )
    key = F.col("__key")
    checks = []
    for c in spec.columns:
        col = F.col(c.name)
        empty = col.isNull() | (col == "")
        name = F.lit(c.name)
        if not c.empty_ok:
            checks.append(F.when(empty, _violation(key, name, col, "not_null")))
        if c.regex:
            checks.append(
                F.when(~empty & ~col.rlike(c.regex), _violation(key, name, col, "regex"))
            )
        if c.cv is not None:
            checks.append(
                F.when(~empty & ~col.isin(*c.cv), _violation(key, name, col, "cv"))
            )
        if c.integer_cv is not None:
            codes = [str(k) for k in c.integer_cv]
            checks.append(
                F.when(
                    ~empty & ~col.isin(*codes), _violation(key, name, col, "integer_cv")
                )
            )
    if CORRUPT_COL in df.columns:
        raw = F.col(CORRUPT_COL)
        checks.append(
            F.when(
                raw.isNotNull(),
                _violation(
                    F.input_file_name(), F.lit(None).cast("string"), raw, "row_shape"
                ),
            )
        )
    found = (
        F.filter(F.array(*checks), lambda v: v.isNotNull())
        if checks
        else F.array().cast(_VIOLATIONS)
    )
    return keyed.select(
        F.lit(table_no).alias("__t"),
        F.lit(spec.name).alias("table"),
        F.lit(spec.primary_key[0] if spec.primary_key else None)
        .cast("string")
        .alias("__pk"),
        key.alias("row_key"),
        found.alias("violations"),
    )


def _violations(tables: list[tuple[DataFrame, TableSpec]]) -> DataFrame:
    """Violations of several tables in one pass: (table, row_key, column,
    value, check), where table is the spec's name. Empty == all valid.

    The tagged rows of every table are unioned and grouped once by
    (table, row_key): a group holds one row per occurrence of its key, so
    its size is the duplicate-PK count and its rows' arrays are the cell
    violations."""
    tagged = reduce(
        DataFrame.unionByName,
        [_tag_rows(df, spec, i) for i, (df, spec) in enumerate(tables)],
    )
    per_key = tagged.groupBy("__t", "table", "__pk", "row_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.flatten(F.collect_list("violations")).alias("violations"),
    )
    dup = F.when(
        F.col("__pk").isNotNull() & (F.col("n") > 1),
        _violation(F.col("row_key"), F.col("__pk"), F.col("n"), "duplicate_pk"),
    )
    return (
        per_key.select(
            "table",
            F.explode(F.concat("violations", F.array(dup))).alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .select("table", "v.row_key", "v.column", "v.value", "v.check")
    )


def validate(df: DataFrame, spec: TableSpec) -> DataFrame:
    """One-pass constraint check of one table: returns a violations
    DataFrame (row_key, column, value, check). Empty == table is valid."""
    return _violations([(df, spec)]).drop("table")


def assert_valid(
    tables: DataFrame | list[tuple[DataFrame, TableSpec]],
    spec: TableSpec | None = None,
    sample: int = 20,
) -> None:
    """Fail-fast: collect a bounded sample of violations and raise — the
    lazy-engine version of the reference's mid-parse sys.exit(1). Checks
    one table, `assert_valid(df, spec)`, or several in one pass,
    `assert_valid([(df, spec), ...])`. Each sample dict names its table."""
    if spec is not None:
        tables = [(tables, spec)]
    bad = _violations(tables).limit(sample).collect()
    if bad:
        raise ValidationError([r.asDict() for r in bad])


def apply_mappings(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Produce mapped columns (the reference's {raw, mapped} cell dualism):
    empty → null, integer_cv codes decoded via a map literal, and dtype
    casts. Raw columns are preserved as `<name>_raw` only when a decode
    rewrites the value. CORRUPT_COL is dropped."""
    out = df.drop(CORRUPT_COL)
    for c in spec.columns:
        col = F.col(c.name)
        mapped = F.when(col == "", None).otherwise(col)
        if c.integer_cv is not None:
            decode = F.create_map(
                *[F.lit(x) for kv in c.integer_cv.items() for x in (str(kv[0]), kv[1])]
            )
            out = out.withColumn(f"{c.name}_raw", col)
            mapped = decode[mapped]
        if c.dtype != "string":
            mapped = mapped.cast(c.dtype)
        out = out.withColumn(c.name, mapped)
    return out
