"""SQL text for expressions that are built once per DataFrame step.

PySpark sends every `F.*` call, alias and operator to the JVM as its own
py4j round trip, with call-site capture, so a Column tree costs one round
trip per node before any job runs. A step given its expressions as SQL
text (`selectExpr`, `F.expr`) costs a handful, however large the
expression. These helpers quote names and values for that text.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A column or field name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: str | None) -> str:
    """A string value as a SQL string literal (NULL for None). Spark's
    parser unescapes backslash sequences in literals, so backslashes are
    doubled and quotes escaped: the literal reads back as `value`."""
    if value is None:
        return "CAST(NULL AS STRING)"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_list(expr: str, values: list[str]) -> str:
    """`expr IN (values…)`; FALSE for an empty list, which SQL cannot spell."""
    if not values:
        return "FALSE"
    return f"{expr} IN ({', '.join(lit(v) for v in values)})"
