"""String helpers for CSV fidelity (T7, K3)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scrub_newlines(col: Column) -> Column:
    """Strip embedded CR/LF — the reference removes every newline from the
    serialized row, flattening multi-line field values
    (CSVDestinationWriter.cs:89)."""
    return F.translate(col, "\r\n", "")


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
