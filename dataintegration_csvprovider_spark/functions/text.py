"""String helpers for CSV fidelity (T7, K3)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_string

#: removed one after another with ``replace``, a byte search: Spark's
#: ``translate`` looks every code point up in a hash map, which took about
#: a quarter of the single-file ETL job's executor time
_NEWLINES = ("\r", "\n")


def scrub_newlines(col: Column) -> Column:
    """Strip embedded CR/LF — the reference removes every newline from the
    serialized row, flattening multi-line field values
    (CSVDestinationWriter.cs:89)."""
    for ch in _NEWLINES:
        col = F.replace(col, F.lit(ch), F.lit(""))
    return col


def scrub_newlines_sql(expr: str) -> str:
    """:func:`scrub_newlines` as Spark SQL text over the SQL ``expr``."""
    for ch in _NEWLINES:
        expr = f"replace({expr}, {sql_string(ch)}, '')"
    return expr


def csv_quote(col: Column, quote: str = '"', null_sentinel: str = "NULL") -> Column:
    """Reference-style CSV cell render: every non-NULL value quoted, SQL
    NULL written *unquoted* as the sentinel (CSVDestinationWriter.cs:114,
    129-131). Unlike the reference we escape embedded quote chars by
    doubling — a deliberate fidelity improvement over its naive concat
    (CSVDestinationWriter.cs:114,135), documented in SURVEY.md §7."""
    escaped = F.replace(col.cast("string"), F.lit(quote), F.lit(quote * 2))
    return F.when(
        col.isNull(), F.lit(null_sentinel)
    ).otherwise(F.concat(F.lit(quote), scrub_newlines(escaped), F.lit(quote)))


def csv_quote_sql(expr: str, quote: str = '"', null_sentinel: str = "NULL") -> str:
    """:func:`csv_quote` as Spark SQL text over the SQL ``expr``."""
    q = sql_string(quote)
    escaped = f"replace(CAST({expr} AS STRING), {q}, {sql_string(quote * 2)})"
    return (
        f"CASE WHEN ({expr}) IS NULL THEN {sql_string(null_sentinel)} "
        f"ELSE concat({q}, {scrub_newlines_sql(escaped)}, {q}) END"
    )
