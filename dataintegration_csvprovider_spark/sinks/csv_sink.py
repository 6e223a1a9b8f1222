"""CSV sink with the reference's row-serialization semantics (SURVEY §2.2).

Reference contract (CSVDestinationWriter.cs):
- K1: one CSV file per mapping, named after the destination table with an
  optional ``yyyyMMdd-HHmmssFFFFFFF`` timestamp suffix (:17-33); the
  destination directory is created (:61-62); encodings UTF-8 (default),
  UTF-16, cp1252, cp1251 (CSVProvider.cs:603-616).
- K2: quoted header row of destination column names, iff configured
  (:82-85,146-152).
- K3: every non-NULL value quoted; NULL written *unquoted* as ``NULL``
  (:129-131); embedded newlines stripped from the serialized row (:89).
  The reference does NOT escape embedded quote chars (:114,135) — we
  deliberately keep quote-doubling (documented divergence, SURVEY §7).

Spark's CSV writer can't express "quote everything except the null
sentinel" (quoteAll quotes the sentinel too — verified empirically), so
fidelity mode serializes rows itself: one Spark SQL ``concat_ws`` over
per-cell ``csv_quote_sql`` renders (the SQL text of ``csv_quote``, and of
``render_number`` for numeric cells), handed to the JVM in one
``selectExpr``, written in parallel through the text source, then
committed by :func:`~.staged.write_staged`.

``single_file=True`` gives the reference's one exactly-named file (header
prepended, encoded as configured), streamed from the part files in
partition order. ``single_file=False`` keeps the parts as a directory
with identical row bytes (UTF-8) for downstream consumers to glob.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field, asdict

from pyspark.sql import DataFrame
from pyspark.sql.types import DecimalType, DoubleType, FloatType

from ..functions.numeric import render_number_sql
from ..functions.sqltext import sql_ident, sql_string
from ..functions.text import csv_quote_sql
from ..sources.csv_source import ENCODINGS
from .staged import write_staged


@dataclass
class CsvSinkOptions:
    """Reference destination-config surface (CSVProvider.cs:719-735)."""

    delimiter: str = ";"
    quote: str = '"'
    first_row_contains_column_names: bool = True
    encoding: str = "UTF-8"
    include_timestamp_in_filename: bool = False  # CSVDestinationWriter.cs:24-27
    null_sentinel: str = "NULL"
    #: T6 — job culture for numeric rendering (CSVDestinationWriter.cs:135
    #: formats with string.Format(cultureInfo, "{0}", v); culture comes
    #: from the job config, CSVProvider.cs:618-629). "" = invariant.
    culture: str = ""

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "CsvSinkOptions":
        return cls(**d)


@dataclass
class CsvSink:
    """CSV destination folder; one output file (or part-directory) per
    destination table."""

    folder: str
    options: CsvSinkOptions = field(default_factory=CsvSinkOptions)

    def _serialized(self, df: DataFrame) -> DataFrame:
        """One string column per row: reference-style quoting + newline
        scrub, joined with the delimiter. concat_ws skips NULLs, so cells
        are rendered via csv_quote first (NULL → unquoted sentinel).
        Float/double/decimal columns render through the job culture (T6)
        — a plain cast for '.'-decimal cultures. The whole render
        is one Spark SQL expression."""
        o = self.options
        cells = []
        for f in df.schema.fields:
            cell = sql_ident(f.name)
            if isinstance(f.dataType, (DoubleType, FloatType, DecimalType)):
                cell = render_number_sql(cell, culture=o.culture)
            cells.append(csv_quote_sql(cell, quote=o.quote, null_sentinel=o.null_sentinel))
        return df.selectExpr(
            f"concat_ws({sql_string(o.delimiter)}, {', '.join(cells)}) AS value"
        )

    def _header_line(self, columns: list[str]) -> str:
        o = self.options
        return o.delimiter.join(f"{o.quote}{c}{o.quote}" for c in columns)

    def _target_name(self, table: str, timestamp: dt.datetime | None) -> str:
        suffix = ""
        if self.options.include_timestamp_in_filename:
            ts = timestamp or dt.datetime.now()
            # .NET "yyyyMMdd-HHmmssFFFFFFF": 100ns ticks (µs + '0'), but
            # FFFFFFF omits trailing zeros — and the entire fraction when
            # zero — so consumers parsing the reference's pattern match
            fraction = (ts.strftime("%f") + "0").rstrip("0")
            suffix = ts.strftime("%Y%m%d-%H%M%S") + fraction
        return f"{table}{suffix}.csv"

    def write(
        self,
        df: DataFrame,
        table: str,
        single_file: bool = True,
        timestamp: dt.datetime | None = None,
    ) -> str:
        """Write ``df`` as CSV for destination ``table``; returns the final
        path (file in single-file mode, directory otherwise)."""
        o = self.options
        header = None
        if o.first_row_contains_column_names:  # K2
            header = self._header_line(df.columns)
        return write_staged(  # creates the folder (CSVDestinationWriter.cs:61-62)
            self._serialized(df),
            self.folder,
            self._target_name(table, timestamp),
            single_file,
            header=header,
            encoding=ENCODINGS.get(o.encoding, o.encoding),
        )
