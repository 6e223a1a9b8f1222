"""Scalar expression library (SURVEY.md §2.4) — all JVM-side expressions,
no Python UDFs on the hot path. Each transform is a public Column helper
plus a ``*_sql`` builder giving the same expression as Spark SQL text,
which the mapping compiler and the CSV sink use."""

from .numeric import normalize_decimal  # noqa: F401
from .datetimefmt import format_reference_datetime  # noqa: F401
from .text import scrub_newlines, csv_quote  # noqa: F401
