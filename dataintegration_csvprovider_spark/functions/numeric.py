"""Locale-aware numeric normalization (reference T1/T2).

The reference rewrites decimal separators when the destination column is
double/float: either an explicit source-separator swap
(CSVSourceReader.cs:235-238) or lenient auto-detection via
``Converter.ToDouble`` (CSVSourceReader.cs:231-234). Its behavior depends
on the host culture — a bug class we design out by pinning invariant
('.') semantics and making the separator an explicit option
(CSVProvider.cs:719-727 options: system culture, auto, '.', ',').

Everything here is a pure Column expression → whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: accepted decimal-separator modes (CSVProvider.cs:719-727)
DECIMAL_MODES = ("auto", ".", ",")


def normalize_decimal(col: Column, mode: str = "auto") -> Column:
    """Return ``col`` (a string column) normalized to a '.'-decimal string
    castable to double.

    - mode '.'  : source already uses '.' decimals; ',' is a thousands
      separator and is removed.
    - mode ','  : source uses ',' decimals; '.' is a thousands separator —
      drop '.', then swap ',' → '.'.
    - mode 'auto': detect per value, like the reference's lenient parse:
      if both separators occur, the right-most one is the decimal point;
      a single ',' is a decimal point (e.g. '1,5' → 1.5); '.' is kept.
    """
    if mode == ".":
        return F.regexp_replace(col, ",", "")
    if mode == ",":
        return F.regexp_replace(F.regexp_replace(col, "\\.", ""), ",", ".")
    if mode != "auto":
        raise ValueError(f"decimal separator mode must be one of {DECIMAL_MODES}")

    dot = F.instr(col, ".")
    comma = F.instr(col, ",")
    last_dot = F.length(col) - F.instr(F.reverse(col), ".")
    last_comma = F.length(col) - F.instr(F.reverse(col), ",")
    as_dot_decimal = F.regexp_replace(col, ",", "")
    as_comma_decimal = F.regexp_replace(F.regexp_replace(col, "\\.", ""), ",", ".")
    return (
        F.when((dot > 0) & (comma > 0),
               F.when(last_dot > last_comma, as_dot_decimal)
                .otherwise(as_comma_decimal))
        .when(comma > 0, as_comma_decimal)  # lone ',' is a decimal point
        .otherwise(col)
    )


def parse_double(col: Column, mode: str = "auto") -> Column:
    """Normalize then cast to double (unparseable → NULL; the reference
    rethrows or skips per its defective-row flag, which the caller
    controls via read mode)."""
    return normalize_decimal(col, mode).try_cast("double")


#: culture → (decimal separator, group separator), the NumberFormatInfo
#: subset the reference's job cultures exercise (it formats numerics with
#: string.Format(cultureInfo, "{0}", v) — culture decimal separator, no
#: grouping — CSVDestinationWriter.cs:135, culture resolution
#: CSVProvider.cs:618-629; its encoding surface implies the cp1252/cp1251
#: culture families, CSVProvider.cs:603-616). Values follow .NET/ICU;
#: space-grouping cultures use NBSP. Unknown cultures resolve to
#: invariant — deterministically, where the reference falls back to the
#: HOST's CurrentCulture (a machine-dependence this engine designs out).
CULTURE_NUMBER_FORMATS: dict[str, tuple[str, str]] = {
    "": (".", ","),  # invariant
    "invariant": (".", ","),
    "en-US": (".", ","),
    "en-GB": (".", ","),
    "en-AU": (".", ","),
    "zh-CN": (".", ","),
    "ja-JP": (".", ","),
    "da-DK": (",", "."),
    "de-DE": (",", "."),
    "es-ES": (",", "."),
    "it-IT": (",", "."),
    "nl-NL": (",", "."),
    "pt-BR": (",", "."),
    "tr-TR": (",", "."),
    "fr-FR": (",", "\u00a0"),
    "ru-RU": (",", "\u00a0"),
    "sv-SE": (",", "\u00a0"),
    "nb-NO": (",", "\u00a0"),
    "fi-FI": (",", "\u00a0"),
    "pl-PL": (",", "\u00a0"),
    "cs-CZ": (",", "\u00a0"),
}


def culture_number_format(culture: str | None) -> tuple[str, str]:
    """Resolve a .NET-style culture name to (decimal_sep, group_sep);
    unknown/empty names resolve to invariant ('.', ',')."""
    return CULTURE_NUMBER_FORMATS.get(culture or "", (".", ","))


def render_number(
    col: Column, culture: str | None = None, grouping: bool = False
) -> Column:
    """T6 — render a numeric column as the reference's job-culture
    formatting would (``string.Format(cultureInfo, "{0}", v)``:
    culture decimal separator, NO thousands grouping; grouping=True adds
    the culture's group separator like an explicit "{0:N}" format).
    Pure Column expressions — cast to string, then a 1:1 separator
    translate; decimal-typed inputs render exact digits on any engine."""
    dec, grp = culture_number_format(culture)
    if grouping:
        rendered = F.format_number(col.cast("double"), 2)
        if (dec, grp) != (".", ","):
            rendered = F.translate(rendered, ".,", dec + grp)
        return rendered
    rendered = col.cast("string")
    if dec != ".":
        rendered = F.translate(rendered, ".", dec)
    return rendered

