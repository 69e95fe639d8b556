"""Declared-schema validated readers — the S1 source family
(ccmm/gtex/parsers/util.py:31-105 in the reference).

The reference reads TSVs row-at-a-time, checking each cell against a
declared column spec (regex / closed vocabulary / integer-code decode /
nullability), indexes rows by primary key, and fatals with a line number on
the first violation. The Spark re-expression keeps the observable contract —
declared schema, per-column validation, duplicate-PK detection, ragged-row
detection, hard failure with row diagnostics — as a violations DataFrame;
fail-fast = assert it is empty (SURVEY.md §7.4 "fail-fast on a lazy engine").
One check is added: a filled cell that passes its value checks but does
not cast to the column's dtype, which would otherwise pass validation and
fail the release later inside apply_mappings' cast.

Cost: read_tsv checks the header from the file's first line on the
driver, without a Spark job. assert_valid checks any number of tables
in two phases, each one scan of every file and one exchange:

- the clean path, run on every release, tags each row with fixed-width
  values only (table number, PK values, count of failed checks) and
  groups on (table, PK values) with count(1) and sum(count). Those
  buffers are fixed-width, so Spark plans a HashAggregate; an
  ObjectHashAggregate (collect_list) would fall back to sorting every
  row after 128 keys per task. It keeps the groups with a violation or
  a duplicate PK and collects at most one: on valid input assert_valid
  runs two jobs (the shuffle map stage and the bounded collect),
  however many tables it checks. At 2,000 subjects (24k rows, 4-core
  host) it takes ~0.30 s where the collect_list grouping took ~0.50 s;
- the failure path, run only when the clean path finds something,
  builds the violations themselves (validate's DataFrame), collects a
  bounded sample and numbers each sample's line by reading the failing
  files on the driver.

The checks are compiled from each TableSpec to SQL text (RLIKE / IN /
map lookup), one string per DataFrame step, so no Python runs per row
and building the plan costs a few py4j round trips per step rather than
one per Column node. For the three tables of a release assert_valid went
from ~3,400 round trips (a Column tree) to ~200-300, the collect
included; apply_mappings is one selectExpr instead of a withColumn loop.
"""

from __future__ import annotations

import csv
from collections import Counter
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

#: The DataFrame attribute in which read_tsv notes its (sep, comment), so
#: that a failing assert_valid can find the lines of its sample.
_DIALECT = "_tsv_dialect"

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
    df = reader.schema(schema).csv(path)
    setattr(df, _DIALECT, (sep, comment))
    return df


def _violation_sql(row_key: str, column: str, value: str, check: str) -> str:
    """SQL text of one violation struct; the arguments are SQL text, the
    check its name."""
    return (
        f"named_struct('row_key', {row_key}, 'column', {column},"
        f" 'value', CAST({value} AS STRING), 'check', {lit(check)})"
    )


def _decoded(c: ColumnSpec, value: str) -> str:
    """SQL text of `value`, a cell of column `c`, decoded as apply_mappings
    decodes it before its dtype cast."""
    if c.integer_cv is None:
        return value
    pairs = ", ".join(f"{lit(str(k))}, {lit(v)}" for k, v in c.integer_cv.items())
    return f"map({pairs})[{value}]"


def _checks(spec: TableSpec) -> list[tuple[str, str, str]]:
    """(column, check, condition) of every declared check of the reference
    (regex, closed vocabulary, integer-code membership, nullability) plus
    dtype: the condition is SQL text, true when the cell fails. The value
    checks apply to filled cells only; dtype fires only on a filled cell
    that passes the others, when its decoded value does not cast to the
    column's dtype (apply_mappings' cast would fail the release later)."""
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
        if not c.empty_ok:
            checks.append((c.name, "not_null", empty))
        checks += [
            (c.name, check, f"NOT {empty} AND NOT ({ok})") for check, ok in passes.items()
        ]
        if c.dtype != "string":
            others = "".join(f" AND ({ok})" for ok in passes.values())
            uncast = f"try_cast({_decoded(c, col)} AS {c.dtype}) IS NULL"
            checks.append((c.name, "dtype", f"NOT {empty}{others} AND {uncast}"))
    return checks


def _pk_values(spec: TableSpec) -> str | None:
    """SQL text of the array of PK values that duplicate detection groups
    on (the '|'-joined row_key is ambiguous: 'x|y','z' vs 'x','y|z', and
    skips nulls); None without a PK."""
    pk = [f"CAST({ident(k)} AS STRING)" for k in spec.primary_key]
    return f"array({', '.join(pk)})" if pk else None


def _tag_rows(df: DataFrame, spec: TableSpec, table_no: int) -> DataFrame:
    """One row per input row: (__t, table, __pk, __group, row_key,
    violations). row_key is the PK joined by '|' (without a PK, the row's
    values joined by tabs, nulls as empty, so it repeats from run to run),
    for display only; __group is the array of PK values that
    duplicate detection groups on (the row_key itself without a PK).
    __pk names the duplicate-PK column, null without a PK; violations
    holds the row's cell and row-shape violations.

    A ragged row is a row_shape violation keyed by its file, with the raw
    line as the value. The CSV reader exposes no line number:
    assert_valid finds the lines of its sample in the failing files."""
    pk = [ident(k) for k in spec.primary_key]
    if pk:
        key = f"concat_ws('|', {', '.join(pk)})"
    else:
        cells = ", ".join(f"coalesce(CAST({ident(c)} AS STRING), '')" for c in spec.names())
        key = f"concat_ws(chr(9), {cells})"
    checks = [
        f"CASE WHEN {cond} THEN {_violation_sql('__key', lit(column), ident(column), check)} END"
        for column, check, cond in _checks(spec)
    ]
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
        f"{_pk_values(spec) or 'array(__key)'} AS __group",
        "__key AS row_key",
        f"{found} AS violations",
    )


def _violations(tables: list[tuple[DataFrame, TableSpec]]) -> DataFrame:
    """Violations of several tables in one pass: (table, pk, row_key,
    column, value, check), where table is the spec's name and pk the
    row's PK values (its __group). Empty == all valid.

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
            "__group AS pk",
            "inline(filter(concat(violations,"
            f" array(CASE WHEN __pk IS NOT NULL AND n > 1 THEN {dup} END)),"
            " v -> v IS NOT NULL))",
        )
    )


def _violation_counts(tables: list[tuple[DataFrame, TableSpec]]) -> DataFrame:
    """The clean path: (__t, __group, n, bad) of every (table, PK values)
    group that holds a failed check or, on a table with a PK, more than
    one row. Empty == all valid, with the same checks as _violations.

    Rows carry only fixed-width values, and the aggregate buffers
    (count, sum) are fixed-width, so Spark plans a HashAggregate with no
    sort fallback. A table without a PK has no duplicate check, so all
    its rows share one group."""
    tagged = []
    for i, (df, spec) in enumerate(tables):
        failed = [f"CAST(coalesce({cond}, false) AS INT)" for *_, cond in _checks(spec)]
        if CORRUPT_COL in df.columns:
            failed.append(f"CAST({ident(CORRUPT_COL)} IS NOT NULL AS INT)")
        tagged.append(
            df.selectExpr(
                f"{i} AS __t",
                f"{_pk_values(spec) or 'CAST(NULL AS ARRAY<STRING>)'} AS __group",
                f"{' + '.join(failed) or '0'} AS __bad",
            )
        )
    return (
        reduce(DataFrame.union, tagged)
        .groupBy("__t", "__group")
        .agg(F.expr("count(1) AS n"), F.expr("sum(__bad) AS bad"))
        .filter("bad > 0 OR (__group IS NOT NULL AND n > 1)")
    )


def validate(df: DataFrame, spec: TableSpec) -> DataFrame:
    """One-pass constraint check of one table: returns a violations
    DataFrame (row_key, column, value, check). Empty == table is valid."""
    return _violations([(df, spec)]).drop("table", "pk")


def assert_valid(
    tables: DataFrame | list[tuple[DataFrame, TableSpec]],
    spec: TableSpec | None = None,
    sample: int = 20,
) -> None:
    """Fail-fast: the lazy-engine version of the reference's mid-parse
    sys.exit(1). Checks one table, `assert_valid(df, spec)`, or several in
    one pass, `assert_valid([(df, spec), ...])`. Valid input costs the
    clean path's two jobs and nothing more. Otherwise a bounded sample of
    violations is collected and raised; each sample dict names its table,
    its row's PK values (pk), and the file and 1-based line of its row
    when the table was read by read_tsv (both None otherwise)."""
    if spec is not None:
        tables = [(tables, spec)]
    if not _violation_counts(tables).limit(1).collect():
        return
    bad = [r.asDict() for r in _violations(tables).limit(sample).collect()]
    _locate(tables, bad)
    raise ValidationError(bad)


def _data_lines(lines: list[str], spec: TableSpec, sep: str, comment: str | None):
    """(line number, raw line, pk, cells) of each data line of a file
    read_tsv read: the lines after the header that are neither blank nor
    comments, numbered as the file has them (1-based). pk and cells are
    what _tag_rows sees of the row: pk is the tuple of its __group, empty
    fields are None, a ragged row is cut or None-padded to the declared
    columns."""
    names = spec.names()
    header = True
    for no, raw in enumerate(lines, 1):
        if not raw.strip() or (comment and raw.startswith(comment)):
            continue
        if header:
            header = False
            continue
        fields = [f or None for f in next(csv.reader([raw], delimiter=sep), [])]
        cells = dict(zip(names, fields + [None] * (len(names) - len(fields))))
        if spec.primary_key:
            pk = tuple(cells[k] for k in spec.primary_key)
        else:
            pk = ("\t".join(cells[c] or "" for c in names),)
        yield no, raw, pk, cells


def _locate(tables: list[tuple[DataFrame, TableSpec]], sample: list[dict]) -> None:
    """Add `file` and `line` to each violation of `sample`, as the
    reference's row-at-a-time reader reports them (parsers/util.py:16-18).
    Only the files of failing tables read by read_tsv are read, on the
    driver. A row_shape violation is matched by its raw line, a cell
    violation by its PK values and cell value, a duplicate_pk by its PK
    values at their second occurrence, where a row-at-a-time reader
    stops; identical violations take successive matching lines."""
    for v in sample:
        v.update(file=None, line=None)
    for df, spec in tables:
        dialect = vars(df).get(_DIALECT)
        todo = [v for v in sample if v["table"] == spec.name and v["line"] is None]
        if dialect is None or not todo:
            continue
        for path in df.inputFiles():
            by_pk, by_raw = {}, {}
            lines = fsutil.read_lines(df.sparkSession, path)
            for no, raw, pk, cells in _data_lines(lines, spec, *dialect):
                by_pk.setdefault(pk, []).append((no, cells))
                by_raw.setdefault(raw, []).append(no)
            taken = Counter()
            for v in todo:
                pk = tuple(v["pk"])
                sig = (pk, v["column"], v["value"], v["check"])
                if v["check"] == "row_shape":
                    found = by_raw.get(v["value"], []) if v["row_key"] == path else []
                elif v["check"] == "duplicate_pk":
                    found = [no for no, _ in by_pk.get(pk, [])][1:]
                else:
                    found = [
                        no
                        for no, cells in by_pk.get(pk, [])
                        if cells.get(v["column"]) == v["value"]
                    ]
                if taken[sig] < len(found):
                    v.update(file=path, line=found[taken[sig]])
                    taken[sig] += 1
            todo = [v for v in todo if v["line"] is None]


def apply_mappings(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Produce mapped columns (the reference's {raw, mapped} cell dualism):
    empty → null, integer_cv codes decoded via a map literal, and dtype
    casts. Raw columns are preserved as `<name>_raw`, appended after the
    others, only when a decode rewrites the value. CORRUPT_COL is
    dropped."""
    mapped, raws = {}, []
    for c in spec.columns:
        col = ident(c.name)
        expr = _decoded(c, f"CASE WHEN {col} = '' THEN NULL ELSE {col} END")
        if c.integer_cv is not None:
            raws.append(f"{col} AS {ident(c.name + '_raw')}")
        if c.dtype != "string":
            expr = f"CAST({expr} AS {c.dtype})"
        mapped[c.name] = f"{expr} AS {col}"
    kept = [mapped.get(n, ident(n)) for n in df.columns if n != CORRUPT_COL]
    return df.selectExpr(*kept, *raws)
