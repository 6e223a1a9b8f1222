"""Reference DateTime render semantics (T5).

DateTime-typed destination values are rendered ``dd-MM-yyyy HH:mm:ss:fff``
(CSVDestinationWriter.cs:98-101,118-127); an unparseable value falls back
to ``DateTime.MinValue`` rendered invariant (``01-01-0001 00:00:00:000``,
CSVDestinationWriter.cs:126). .NET's ``fff`` (milliseconds) maps to
Spark's ``SSS``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_string

#: .NET "dd-MM-yyyy HH:mm:ss:fff" → JVM pattern
REFERENCE_DATETIME_FORMAT = "dd-MM-yyyy HH:mm:ss:SSS"

#: DateTime.MinValue rendered in the reference format
DATETIME_MIN_SENTINEL = "01-01-0001 00:00:00:000"


def format_reference_datetime(col: Column) -> Column:
    """Render a timestamp-or-string column in the reference format; values
    that fail to parse become the DateTime.MinValue sentinel."""
    ts = col.try_cast("timestamp")  # ANSI-safe: unparseable → NULL
    return F.coalesce(
        F.date_format(ts, REFERENCE_DATETIME_FORMAT),
        F.lit(DATETIME_MIN_SENTINEL),
    )


def format_reference_datetime_sql(expr: str) -> str:
    """:func:`format_reference_datetime` as Spark SQL text over the SQL
    ``expr``."""
    return (
        f"coalesce(date_format(try_cast({expr} AS TIMESTAMP), "
        f"{sql_string(REFERENCE_DATETIME_FORMAT)}), {sql_string(DATETIME_MIN_SENTINEL)})"
    )
