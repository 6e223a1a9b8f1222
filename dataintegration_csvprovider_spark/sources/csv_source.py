"""CSV source: scan, schema inference, validation, robustness semantics.

Re-expresses the reference's reader surface (SURVEY.md §2.1, §2.3, §2.5)
on Spark's CSV DataSource:

- S1 file scan with the reference's dialect knobs — delimiter ';' default
  (CSVProvider.cs:34), quote '"' (:35), escape == quote
  (CSVSourceReader.cs:49-51), header flag (:24), field trim at scan time
  (TrimOptions.Trim, CSVSourceReader.cs:48), NULL sentinel decode
  (CSVSourceReader.cs:221-223).
- S2 folder scan: each top-level ``*.csv`` is one table named by basename
  (CSVProvider.cs:183,641-656); a selected file overrides the folder
  (:478-485).
- S3 all-string schema inference; headerless columns named ``Column N``
  1-based (CSVProvider.cs:292-295); malformed file → table dropped
  (:307-313).
- S4 stability gate: double-stat with a pause; throws if still growing
  (CSVProvider.cs:673-700).
- S5 validation (CSVProvider.cs:234-279), S6 post-job deletion (:658-671).
- E1/E2 defective rows: DROPMALFORMED when ``ignore_defective_rows`` else
  FAILFAST (CSVSourceReader.cs:53-56,64-68,168-211); PERMISSIVE + corrupt
  record column available for audit.
- E3 duplicate-header rejection (CSVSourceReader.cs:245-273).

Scale notes: the Spark CSV scan is file-split parallel; ``multi_line``
(quoted embedded newlines, the reference parser's default behavior) makes
files non-splittable, so it defaults off and is an explicit fidelity knob.
Column pruning/predicate prune happen post-parse for CSV — at 100 TB
convert to parquet once, then run queries (the engine's catalog reads
parquet natively).
"""

from __future__ import annotations

import csv
import logging
import os
import time
from dataclasses import dataclass, field, asdict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: reference encoding surface (CSVProvider.cs:603-616), shared by source
#: and sink; the Java charset names are also Python codec names
ENCODINGS = {
    "UTF-8": "UTF-8",
    "UTF-16": "UTF-16",
    "Windows-1252": "windows-1252",
    "Windows-1251": "windows-1251",
}

NULL_SENTINEL = "NULL"

log = logging.getLogger(__name__)


@dataclass
class CsvSourceOptions:
    """Reference source-config surface (CSVProvider.cs source settings)."""

    delimiter: str = ";"  # CSVProvider.cs:34
    quote: str = '"'  # CSVProvider.cs:35
    first_row_contains_column_names: bool = True  # CSVProvider.cs:24
    encoding: str = "UTF-8"
    decimal_separator: str = "auto"  # system|auto|.|, (CSVProvider.cs:719-727)
    ignore_defective_rows: bool = False  # CSVProvider.cs:138-139
    delete_source_files_after_job: bool = False  # CSVProvider.cs:355-361
    null_sentinel: str = NULL_SENTINEL
    trim: bool = True  # TrimOptions.Trim at scan (CSVSourceReader.cs:48)
    multi_line: bool = False  # fidelity knob; non-splittable when on

    def spark_read_options(self) -> dict[str, str]:
        mode = "DROPMALFORMED" if self.ignore_defective_rows else "FAILFAST"
        enc = ENCODINGS.get(self.encoding, self.encoding)
        multi_line = self.multi_line
        if enc.lower().startswith(("utf-16", "utf-32", "utf16", "utf32")):
            # non-ASCII-compatible charsets break Hadoop's byte-oriented
            # line splitting (BOM + 2-byte newlines); the whole-file reader
            # (multiLine) decodes correctly. These are legacy single-file
            # inputs, so losing splittability is acceptable.
            multi_line = True
        return {
            "sep": self.delimiter,
            "quote": self.quote,
            "escape": self.quote,  # escape == quote (CSVSourceReader.cs:49-51)
            "header": str(self.first_row_contains_column_names).lower(),
            "encoding": ENCODINGS.get(self.encoding, self.encoding),
            "nullValue": self.null_sentinel,
            "ignoreLeadingWhiteSpace": str(self.trim).lower(),
            "ignoreTrailingWhiteSpace": str(self.trim).lower(),
            "multiLine": str(multi_line).lower(),
            "mode": mode,
            "enforceSchema": "false",
        }

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "CsvSourceOptions":
        return cls(**d)


def _split_quoted(line: str, delim: str, quote: str) -> list[str]:
    """Split one CSV record on a (possibly multi-char) delimiter with
    quote/doubled-quote handling — the header-parse twin of the scan's
    escape == quote dialect."""
    fields: list[str] = []
    buf: list[str] = []
    i, n, dl, inq = 0, len(line), len(delim), False
    while i < n:
        ch = line[i]
        if inq:
            if ch == quote:
                if i + 1 < n and line[i + 1] == quote:  # doubled quote
                    buf.append(quote)
                    i += 2
                    continue
                inq = False
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if ch == quote:
            inq = True
            i += 1
            continue
        if line.startswith(delim, i):
            fields.append("".join(buf))
            buf = []
            i += dl
            continue
        buf.append(ch)
        i += 1
    fields.append("".join(buf))
    return fields


def positional_column_name(i: int) -> str:
    """Headerless naming: ``Column 1``.. 1-based (CSVProvider.cs:292-295)."""
    return f"Column {i + 1}"


class DuplicateHeaderError(ValueError):
    """E3: repeated non-empty header names (CSVSourceReader.cs:245-273)."""


class SourceFilesChangingError(RuntimeError):
    """S4: a source file grew between stats (CSVProvider.cs:695)."""


@dataclass
class CsvSource:
    """A CSV source: a folder of ``{table}.csv`` files and/or one selected
    file that overrides the folder (CSVProvider.cs:478-485)."""

    folder: str | None = None
    file: str | None = None
    options: CsvSourceOptions = field(default_factory=CsvSourceOptions)

    # -- S5 validation (CSVProvider.cs:234-279) -------------------------
    def validate(self) -> list[str]:
        """Return warnings; raise ValueError on fatal misconfiguration."""
        warnings: list[str] = []
        if not self.folder and not self.file:
            raise ValueError("no source file or folder configured")
        if self.file:
            if not self.file.lower().endswith(".csv"):
                raise ValueError(f"source file is not a .csv file: {self.file}")
            if not Path(self.file).is_file():
                raise ValueError(f"source file does not exist: {self.file}")
            if self.folder:
                # both set: file wins, warn (CSVProvider.cs:274-277)
                warnings.append(
                    "both source file and folder are set; the file overrides"
                )
        elif self.folder:
            p = Path(self.folder)
            if not p.is_dir():
                raise ValueError(f"source folder does not exist: {self.folder}")
            if not list(p.glob("*.csv")):
                raise ValueError(f"source folder contains no .csv files: {self.folder}")
        return warnings

    # -- S2 discovery (CSVProvider.cs:641-656) --------------------------
    def source_files(self) -> list[str]:
        if self.file:
            return [self.file]
        assert self.folder is not None
        return sorted(str(p) for p in Path(self.folder).glob("*.csv"))

    def tables(self) -> list[str]:
        return [Path(f).stem for f in self.source_files()]

    def path_for_table(self, table: str) -> str:
        """Folder mode resolves ``{table}.csv`` (CSVProvider.cs:484); a
        selected file overrides regardless of table name (:478-482)."""
        if self.file:
            return self.file
        assert self.folder is not None
        return os.path.join(self.folder, f"{table}.csv")

    # -- S4 stability gate (CSVProvider.cs:673-700) ----------------------
    def check_source_files_changing(self, pause_sec: float = 5.0) -> None:
        files = self.source_files()
        before = {f: os.stat(f).st_size for f in files}
        time.sleep(pause_sec)
        growing = [f for f in files if os.stat(f).st_size != before[f]]
        if growing:
            raise SourceFilesChangingError(
                f"source files still being written: {growing}"
            )

    # -- E3 duplicate headers (CSVSourceReader.cs:245-273) ---------------
    def verify_no_duplicate_headers(self, table: str) -> None:
        if not self.options.first_row_contains_column_names:
            return
        names = [n.strip() for n in self._header_fields(table)]
        seen: set[str] = set()
        dups = [n for n in names if n and (n in seen or seen.add(n))]
        if dups:
            raise DuplicateHeaderError(
                f"duplicate column names {sorted(set(dups))} in {table}; "
                "use first_row_contains_column_names=False to read positionally"
            )

    def _first_line(self, path: str) -> str:
        enc = ENCODINGS.get(self.options.encoding, self.options.encoding)
        with open(path, encoding=enc, errors="replace") as fh:
            # strip a leading BOM: Python's utf-8 codec keeps U+FEFF
            # (unlike utf-8-sig), which would pollute the first header
            # name; Spark's own CSV reader strips it, so match that
            return fh.readline().rstrip("\r\n").lstrip("\ufeff")

    def _header_fields(self, table: str) -> list[str]:
        """Header cells parsed with full quoting rules (CsvHelper-parsed
        headers, CSVSourceReader.cs:245-250): a quoted name may contain
        the delimiter or doubled quotes \u2014 naive split would miscount.
        Multi-char delimiters (a CsvHelper string-delimiter feature that
        Spark's sep also supports) take a hand-rolled quote-aware walk,
        since Python's csv module only accepts 1-char delimiters."""
        header = self._first_line(self.path_for_table(table))
        if len(self.options.delimiter) > 1:
            return _split_quoted(
                header, self.options.delimiter, self.options.quote
            )
        rows = list(
            csv.reader(
                [header],
                delimiter=self.options.delimiter,
                quotechar=self.options.quote,
                doublequote=True,  # escape == quote, matching the scan
            )
        )
        return rows[0] if rows else []

    # -- S3 inference (CSVProvider.cs:155-198,281-315) --------------------
    def infer_schema(self, spark: SparkSession) -> dict[str, T.StructType]:
        """All-string schema per table; malformed files are dropped from
        the schema (logged), other tables survive (CSVProvider.cs:307-313)."""
        schemas: dict[str, T.StructType] = {}
        for table in self.tables():
            try:
                schemas[table] = self._infer_table(spark, table)
            except DuplicateHeaderError:
                raise
            except Exception as e:  # noqa: BLE001 — E4 semantics
                log.warning("dropping table %s from schema: %s", table, e)
        return schemas

    def _infer_table(self, spark: SparkSession, table: str) -> T.StructType:
        self.verify_no_duplicate_headers(table)
        fields = self._header_fields(table)
        if self.options.first_row_contains_column_names:
            names = [c.strip() for c in fields]
        else:
            names = [positional_column_name(i) for i in range(len(fields))]
        # every column is string — exact match for the reference's
        # inference (CSVProvider.cs:294,303)
        return T.StructType([T.StructField(c, T.StringType(), True) for c in names])

    # -- persisted schema override (CSVProvider.cs:150-153,317-351,389-391)
    def schema_file_for_table(self, table: str) -> str:
        """Side-file path holding the persisted (possibly user-edited)
        schema for ``table``: ``{table}.csv.schema.json`` next to the
        data. The reference persists its editable schema inside the job
        XML (SaveAsXml writes the Schema node, restore at
        CSVProvider.cs:389-391); a JSON side-file is the engine's
        host-independent equivalent."""
        return self.path_for_table(table) + ".schema.json"

    def save_schema(self, table: str, schema: T.StructType) -> str:
        """Persist an edited schema so later reads use it over inference —
        SchemaIsEditable=true in the reference (CSVProvider.cs:150-153):
        the user's edit survives restarts and wins over what the file
        headers say."""
        path = self.schema_file_for_table(table)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(schema.json())
        return path

    def load_saved_schema(self, table: str) -> T.StructType | None:
        """The persisted schema for ``table`` (None when never saved)."""
        path = self.schema_file_for_table(table)
        if not os.path.isfile(path):
            return None
        import json as _json

        with open(path, encoding="utf-8") as fh:
            return T.StructType.fromJson(_json.load(fh))

    def original_schema(self, spark: SparkSession, table: str) -> T.StructType:
        """Inference result regardless of any persisted schema — the
        reference's GetOriginalSourceSchema (CSVProvider.cs:155-198)."""
        return self._infer_table(spark, table)

    # -- S1 scan ----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Scan one table. Schema resolution order: explicit argument >
        persisted side-file (:meth:`save_schema` — the edited schema wins
        over inference, CSVProvider.cs:150-153,331) > all-string
        inference. Columns bind by ordinal either way (P2)."""
        path = self.path_for_table(table)
        overridden = schema is not None
        if schema is None:
            schema = self.load_saved_schema(table)
            overridden = schema is not None
        if schema is None:
            schema = self._infer_table(spark, table)
        enc = ENCODINGS.get(self.options.encoding, self.options.encoding)
        if enc.lower() not in ("utf-8", "us-ascii", "iso-8859-1", "utf-16",
                               "utf-16be", "utf-16le", "utf-32"):
            # cp1252/cp1251 need the legacy charset gate; runtime-settable,
            # so sessions not built by our factory still work
            spark.conf.set("spark.sql.legacy.javaCharsets", "true")
        opts = self.options.spark_read_options()
        if overridden:
            # an edited/explicit schema binds by ordinal and its names are
            # ALLOWED to differ from the file header (that is the point of
            # the override) — disable Spark's header-name validation
            opts["enforceSchema"] = "true"
        reader = spark.read.options(**opts)
        df = reader.schema(schema).csv(path)
        if self.options.first_row_contains_column_names:
            # Spark binds header names; we bind by schema ordinal to stay
            # faithful to positional access (CSVSourceReader.cs:221,227)
            df = df.toDF(*[f.name for f in schema.fields])
        return df

    def read_with_audit(self, spark: SparkSession, table: str) -> DataFrame:
        """PERMISSIVE scan keeping defective raw records in
        ``_corrupt_record`` — the audit-trail variant of E1 (the reference
        logs field + raw record, CSVSourceReader.cs:64-68)."""
        schema = self._infer_table(spark, table).add("_corrupt_record", T.StringType())
        opts = self.options.spark_read_options() | {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_corrupt_record",
        }
        df = spark.read.options(**opts).schema(schema).csv(self.path_for_table(table))
        return df

    # -- J4 programmatic source injection (CSVProvider.cs:702-717) ---------
    def write_to_source_file(self, text: str) -> str:
        """Write raw CSV text into the configured source file — the
        integration-framework hook for in-memory inputs. Requires a
        selected file (folder-only sources have no single target)."""
        if not self.file:
            raise ValueError("write_to_source_file requires a configured source file")
        enc = ENCODINGS.get(self.options.encoding, self.options.encoding)
        with open(self.file, "w", encoding=enc) as fh:
            fh.write(text)
        return self.file

    # -- S6 post-job deletion (CSVProvider.cs:658-671) ---------------------
    def delete_source_files(self) -> list[str]:
        """Delete all source files; per-file errors logged, not fatal."""
        deleted: list[str] = []
        for f in self.source_files():
            try:
                os.remove(f)
                deleted.append(f)
            except OSError as e:  # per-file try (CSVProvider.cs:663-668)
                log.warning("could not delete %s: %s", f, e)
        return deleted
