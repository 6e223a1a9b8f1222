"""Spark SQL text for identifiers and literals.

The mapping compiler and the CSV sink build each projection as Spark SQL
text and hand it to the JVM in one ``selectExpr``, instead of one py4j
round trip per Column operation. These helpers render the leaves of that
text; the transform builders sit next to their Column twins in
:mod:`.text`, :mod:`.numeric` and :mod:`.datetimefmt`.
"""

from __future__ import annotations

import calendar
import datetime as dt
import math
import re
import time
from decimal import Decimal

from pyspark.sql.utils import is_timestamp_ntz_preferred

_INT64 = (-(2**63), 2**63 - 1)
_QUOTE_OR_BACKSLASH = re.compile(r"([\\'])")


def sql_ident(name: str) -> str:
    """A column name as one backtick-quoted identifier part: spaces,
    dots and non-ASCII stay literal, an embedded backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """A string expression whose value is ``s`` exactly, whatever
    ``spark.sql.parser.escapedStringLiterals`` says: that setting changes
    how a literal's ``\\`` and ``''`` read, so those two characters are
    spliced in as ``chr(92)``/``chr(39)`` (a constant Catalyst folds);
    every other character (CR, LF, non-ASCII) is written as itself."""
    if "\\" not in s and "'" not in s:
        return f"'{s}'"
    parts = [
        f"chr({ord(p)})" if p in ("\\", "'") else f"'{p}'"
        for p in _QUOTE_OR_BACKSLASH.split(s)
        if p
    ]
    return f"concat({', '.join(parts)})"


def sql_literal(value: object) -> str:
    """A typed literal with the type and value ``F.lit(value)`` gives:
    bool → boolean, int → int or bigint, float → double, Decimal →
    decimal(p, s), date → date, datetime → timestamp, bytes → binary,
    str → string."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if not _INT64[0] <= value <= _INT64[1]:
            raise ValueError(f"integer constant {value} is outside bigint range")
        return str(value)  # the parser types it int, or bigint past int32
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        # no literal spells NaN or ±Infinity; coalesce keeps them non-null
        return f"coalesce(CAST('{value!r}' AS DOUBLE), 0D)"
    if isinstance(value, Decimal):
        return f"{value}BD"
    if isinstance(value, dt.datetime):
        if value.tzinfo is None and is_timestamp_ntz_preferred():
            return f"TIMESTAMP_NTZ'{value.isoformat(' ')}'"
        # PySpark's converter: an aware value is its UTC instant, a naive
        # one is read in the driver's local time zone
        seconds = (
            calendar.timegm(value.utctimetuple())
            if value.tzinfo
            else time.mktime(value.timetuple())
        )
        return f"timestamp_micros({int(seconds) * 1_000_000 + value.microsecond})"
    if isinstance(value, dt.date):
        return f"DATE'{value.isoformat()}'"
    if isinstance(value, (bytes, bytearray)):
        return f"X'{bytes(value).hex()}'"
    if isinstance(value, str):
        return sql_string(value)
    raise TypeError(f"unsupported constant type {type(value).__name__}")
