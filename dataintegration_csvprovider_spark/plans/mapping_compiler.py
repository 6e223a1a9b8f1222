"""Mapping → DataFrame compiler (SURVEY.md §1.1, §2.3, §2.4).

A reference Mapping is a declarative per-table pipeline: source table →
conditionals filter → active column mappings (project/rename/reorder,
CSVSourceReader.cs:161-163; output order = mapping order,
CSVDestinationWriter.cs:86) → per-column transforms (constants/scripts
CSVDestinationWriter.cs:95-115, value conversion :120,135, decimal
normalization CSVSourceReader.cs:228-239, DateTime render :98-101).

Here each ColumnMapping compiles to one Spark SQL select item and the
whole Mapping to ``filter`` + one ``selectExpr``: the JVM parses the
projection once, where building it through the Column API costs a py4j
round trip per function call and operator. The SQL text comes from the
``*_sql`` builders beside the public Column helpers in ``functions/``
(the reference form, which the tests compare the builders against).
Conditionals stay Column predicates. Catalyst pushes the filter down,
giving at plan level what the reference did per-row.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

from pyspark.sql import Column, DataFrame

from ..functions.datetimefmt import format_reference_datetime_sql
from ..functions.numeric import parse_double_sql
from ..functions.sqltext import sql_ident, sql_literal
from .conditionals import Conditional, apply_conditionals

#: destination types with reference-specified conversion semantics
_CASTABLE = {"string", "int", "bigint", "double", "float", "boolean", "date"}


@dataclass
class ColumnMapping:
    """source column → destination column with optional constant/script
    and destination-type-driven conversion (SURVEY.md §1.1 ColumnMapping).

    - ``source_column``/``destination_column``: one literal name each, as
      the CSV header spells it; dots, spaces and backticks are part of
      the name (a name written in backticks keeps them).
    - ``constant``: T4 — inject a fixed value instead of a source column
      (``ScriptType.Constant``, CSVDestinationWriter.cs:156-159).
    - ``script``: T4 — a Spark SQL expression string over source columns
      (the engine's analog of the reference's script hooks); one
      expression without an ``AS`` alias, since the destination column
      names it.
    - ``dest_type``: drives T1/T2/T5 conversions — 'double'/'float' apply
      decimal-separator normalization (CSVSourceReader.cs:228-239);
      'datetime' renders the reference format (CSVDestinationWriter.cs:
      98-101,118-127); other types cast.
    """

    source_column: str | None = None
    destination_column: str | None = None
    active: bool = True
    constant: object = None
    script: str | None = None
    dest_type: str | None = None

    def to_expr(self, decimal_separator: str = "auto") -> str:
        """This column as one Spark SQL select item: ``<expr> AS <dst>``."""
        dst = self.destination_column or self.source_column
        if dst is None:
            raise ValueError("column mapping needs a destination or source name")
        if self.constant is not None:
            expr = sql_literal(self.constant)
        elif self.script is not None:
            # the newline ends a trailing -- comment inside the script
            expr = f"({self.script}\n)"
        elif self.source_column is not None:
            expr = sql_ident(self.source_column)
        else:
            raise ValueError(f"mapping for {dst!r} has no source/constant/script")

        t = (self.dest_type or "").lower()
        if t in ("double", "float"):
            # T1/T2: locale decimal normalization before numeric cast
            expr = parse_double_sql(f"CAST({expr} AS STRING)", decimal_separator)
            if t == "float":
                expr = f"CAST({expr} AS FLOAT)"
        elif t == "datetime":
            expr = format_reference_datetime_sql(expr)  # T5
        elif t in _CASTABLE and t != "string":
            expr = f"try_cast({expr} AS {t})"  # T3 value conversion; unparseable → NULL
        elif t == "string":
            expr = f"CAST({expr} AS STRING)"
        return f"{expr} AS {sql_ident(dst)}"

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "ColumnMapping":
        return cls(**d)


@dataclass
class Mapping:
    """Declarative per-table pipeline (SURVEY.md §1.1 Mapping)."""

    source_table: str
    destination_table: str | None = None
    column_mappings: list[ColumnMapping] = field(default_factory=list)
    conditionals: list[Conditional] = field(default_factory=list)
    active: bool = True

    @property
    def dest_table(self) -> str:
        return self.destination_table or self.source_table

    def active_column_mappings(self) -> list[ColumnMapping]:
        """Only Active mappings with a usable source participate
        (CSVSourceReader.cs:161-163); order = mapping order."""
        return [
            m
            for m in self.column_mappings
            if m.active
            and (m.source_column or m.constant is not None or m.script is not None)
        ]

    def to_dict(self) -> dict:
        return {
            "source_table": self.source_table,
            "destination_table": self.destination_table,
            "column_mappings": [m.to_dict() for m in self.column_mappings],
            "conditionals": [c.to_dict() for c in self.conditionals],
            "active": self.active,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Mapping":
        return cls(
            source_table=d["source_table"],
            destination_table=d.get("destination_table"),
            column_mappings=[
                ColumnMapping.from_dict(m) for m in d.get("column_mappings", [])
            ],
            conditionals=[Conditional(**c) for c in d.get("conditionals", [])],
            active=d.get("active", True),
        )


def compile_mapping(
    df: DataFrame,
    mapping: Mapping,
    params: dict[str, object] | None = None,
    decimal_separator: str = "auto",
    extra_filter: Column | None = None,
) -> DataFrame:
    """filter(conditionals) → select(compiled column expressions).

    ``extra_filter`` is the engine analog of the ``ProcessInputRow``
    interceptor hook (F2, CSVProvider.cs:570-573).
    """
    out = apply_conditionals(df, mapping.conditionals, params)
    if extra_filter is not None:
        out = out.filter(extra_filter)
    cms = mapping.active_column_mappings()
    if not cms:
        raise ValueError(
            f"mapping {mapping.source_table} -> {mapping.dest_table} has no "
            "active column mappings"
        )
    return out.selectExpr(*[m.to_expr(decimal_separator) for m in cms])
