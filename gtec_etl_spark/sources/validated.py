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
each file and one exchange: every row is tagged (table, PK values,
row_key, its cell violations), the tables are unioned, and one groupBy
on the PK values yields the cell and the duplicate-PK violations
together. On valid input assert_valid runs two jobs (the shuffle map
stage and the bounded collect), however many tables it checks.

The checks are compiled from each TableSpec to SQL text (RLIKE / IN /
map lookup), one string per DataFrame step, so no Python runs per row
and building the plan costs a few py4j round trips per step rather than
one per Column node. For the three tables of a release assert_valid went
from ~3,400 round trips (a Column tree) to ~200-300, the collect
included; apply_mappings is one selectExpr instead of a withColumn loop.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark import fsutil
from gtec_etl_spark.functions.sqltext import ident, in_list, lit

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
    schema = ", ".join(f"{ident(c)} string" for c in spec.names() + [CORRUPT_COL])
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("columnPruning", False)
    )
    if comment:
        reader = reader.option("comment", comment)
    return reader.schema(schema).csv(path)


def _violation_sql(row_key: str, column: str, value: str, check: str) -> str:
    """SQL text of one violation struct; the arguments are SQL text, the
    check its name."""
    return (
        f"named_struct('row_key', {row_key}, 'column', {column},"
        f" 'value', CAST({value} AS STRING), 'check', {lit(check)})"
    )


def _cell_checks(spec: TableSpec) -> list[str]:
    """One CASE expression per declared check of the reference (regex,
    closed vocabulary, integer-code membership, nullability): a violation
    keyed by __key, or NULL."""
    checks = []
    for c in spec.columns:
        col = ident(c.name)
        empty = f"({col} IS NULL OR {col} = '')"
        passes = {}  # the value checks, which apply to filled cells only
        if c.regex:
            passes["regex"] = f"{col} RLIKE {lit(c.regex)}"
        if c.cv is not None:
            passes["cv"] = in_list(col, c.cv)
        if c.integer_cv is not None:
            passes["integer_cv"] = in_list(col, [str(k) for k in c.integer_cv])
        failed = {"not_null": empty} if not c.empty_ok else {}
        failed.update({k: f"NOT {empty} AND NOT ({ok})" for k, ok in passes.items()})
        checks += [
            f"CASE WHEN {cond} THEN {_violation_sql('__key', lit(c.name), col, check)} END"
            for check, cond in failed.items()
        ]
    return checks


def _tag_rows(df: DataFrame, spec: TableSpec, table_no: int) -> DataFrame:
    """One row per input row: (__t, table, __pk, __group, row_key,
    violations). row_key is the PK joined by '|' (a row id when there is
    none), for display only; __group is the array of PK values that
    duplicate detection groups on, since the joined string is ambiguous
    ('x|y','z' vs 'x','y|z') and skips nulls. __pk names the duplicate-PK
    column, null without a PK; violations holds the row's cell and
    row-shape violations.

    A ragged row is a row_shape violation keyed by its file, with the raw
    line as the value; no line number, since the CSV reader exposes none
    without a second scan."""
    pk = [ident(k) for k in spec.primary_key]
    if pk:
        key = f"concat_ws('|', {', '.join(pk)})"
        group = f"array({', '.join(f'CAST({k} AS STRING)' for k in pk)})"
    else:
        key = "CAST(monotonically_increasing_id() AS STRING)"
        group = "array(__key)"
    checks = _cell_checks(spec)
    if CORRUPT_COL in df.columns:
        raw = ident(CORRUPT_COL)
        row_shape = _violation_sql("input_file_name()", lit(None), raw, "row_shape")
        checks.append(f"CASE WHEN {raw} IS NOT NULL THEN {row_shape} END")
    found = (
        f"filter(array({', '.join(checks)}), v -> v IS NOT NULL)"
        if checks
        else f"CAST(array() AS {_VIOLATIONS})"
    )
    first_pk = lit(spec.primary_key[0] if spec.primary_key else None)
    return df.selectExpr("*", f"{key} AS __key").selectExpr(
        f"{table_no} AS __t",
        f"{lit(spec.name)} AS `table`",
        f"{first_pk} AS __pk",
        f"{group} AS __group",
        "__key AS row_key",
        f"{found} AS violations",
    )


def _violations(tables: list[tuple[DataFrame, TableSpec]]) -> DataFrame:
    """Violations of several tables in one pass: (table, row_key, column,
    value, check), where table is the spec's name. Empty == all valid.

    The tagged rows of every table are unioned and grouped once by
    (table, PK values): a group holds one row per occurrence of its key,
    so its size is the duplicate-PK count and its rows' arrays are the
    cell violations."""
    tagged = reduce(
        DataFrame.unionByName,
        [_tag_rows(df, spec, i) for i, (df, spec) in enumerate(tables)],
    )
    dup = _violation_sql("row_key", "__pk", "n", "duplicate_pk")
    return (
        tagged.groupBy("__t", "table", "__pk", "__group", "row_key")
        .agg(
            F.expr("count(1) AS n"),
            F.expr("flatten(collect_list(violations)) AS violations"),
        )
        .selectExpr(
            "`table`",
            "inline(filter(concat(violations,"
            f" array(CASE WHEN __pk IS NOT NULL AND n > 1 THEN {dup} END)),"
            " v -> v IS NOT NULL))",
        )
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
    casts. Raw columns are preserved as `<name>_raw`, appended after the
    others, only when a decode rewrites the value. CORRUPT_COL is
    dropped."""
    mapped, raws = {}, []
    for c in spec.columns:
        col = ident(c.name)
        expr = f"CASE WHEN {col} = '' THEN NULL ELSE {col} END"
        if c.integer_cv is not None:
            pairs = ", ".join(f"{lit(str(k))}, {lit(v)}" for k, v in c.integer_cv.items())
            expr = f"map({pairs})[{expr}]"
            raws.append(f"{col} AS {ident(c.name + '_raw')}")
        if c.dtype != "string":
            expr = f"CAST({expr} AS {c.dtype})"
        mapped[c.name] = f"{expr} AS {col}"
    kept = [mapped.get(n, ident(n)) for n in df.columns if n != CORRUPT_COL]
    return df.selectExpr(*kept, *raws)
