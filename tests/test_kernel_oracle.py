"""The per-row string kernels against a pure-Python expectation.

``tests/test_sql_compile.py`` checks each ``*_sql`` builder against its
Column helper; a change that both share (as when ``translate`` and
``regexp_replace`` gave way to ``replace``) passes that comparison
whatever it does. Here both spellings are checked against the
reference's rules written out in Python.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.functions.numeric import (
    normalize_decimal,
    normalize_decimal_sql,
    render_number,
    render_number_sql,
)
from dataintegration_csvprovider_spark.functions.sqltext import sql_ident
from dataintegration_csvprovider_spark.functions.text import csv_quote, csv_quote_sql


def _text(fragments: list[str]):
    """NULL or a string joined from ``fragments``."""
    return st.one_of(
        st.none(),
        st.lists(st.sampled_from(fragments), max_size=10).map("".join),
    )


# CR, LF, CRLF and a lone CR; both quote characters; astral code points
# (four UTF-8 bytes, two UTF-16 units); backslash and the delimiter
_cells = _text(["a", "7", " ", "\r", "\n", "\r\n", '"', "'", "\\", ";",
                "ä", "€", "\U0001F600", "\U0001D11E"])
_decimals = _text(["0", "1", "9", ".", ",", "-", "e", " ", "ä", "\U0001F600"])


def _columns(df, helpers, builders, col: str = "s") -> list[list]:
    """Each value list of ``col`` through every Column helper, then every
    SQL text builder, in one Spark job."""
    rows = df.select(
        *[h(F.col(col)) for h in helpers],
        *[F.expr(b(sql_ident(col))) for b in builders],
    ).collect()
    return [list(c) for c in zip(*rows)]


def expected_quote(value: str | None, quote: str, null_sentinel: str) -> str:
    """NULL as the bare sentinel; otherwise quoted, quotes doubled and
    every CR and LF removed (CSVDestinationWriter.cs:89,129-131)."""
    if value is None:
        return null_sentinel
    body = value.replace(quote, quote * 2).replace("\r", "").replace("\n", "")
    return quote + body + quote


@settings(max_examples=30, deadline=None)
@given(st.lists(_cells, min_size=1, max_size=12))
def test_csv_quote_against_python(spark_prop, values):
    df = spark_prop.createDataFrame([(v,) for v in values], "s string")
    cases = [('"', "NULL"), ("'", "NULL"), ("'", "it's \\N")]
    got = _columns(
        df,
        [lambda c, q=q, n=n: csv_quote(c, quote=q, null_sentinel=n) for q, n in cases],
        [lambda x, q=q, n=n: csv_quote_sql(x, quote=q, null_sentinel=n) for q, n in cases],
    )
    want = [[expected_quote(v, q, n) for v in values] for q, n in cases]
    assert got == want + want


def expected_decimal(value: str | None, mode: str) -> str | None:
    """'.': drop ','. ',': drop '.', then ',' → '.'. auto: with both, the
    right-most separator is the decimal point; a lone ',' is one."""
    if value is None:
        return None
    as_dot = value.replace(",", "")
    as_comma = value.replace(".", "").replace(",", ".")
    if mode == ".":
        return as_dot
    if mode == ",":
        return as_comma
    if "," not in value:
        return value
    return as_dot if value.rfind(".") > value.rfind(",") else as_comma


@settings(max_examples=30, deadline=None)
@given(st.lists(_decimals, min_size=1, max_size=12))
def test_normalize_decimal_against_python(spark_prop, values):
    df = spark_prop.createDataFrame([(v,) for v in values], "s string")
    modes = ("auto", ".", ",")
    got = _columns(
        df,
        [lambda c, m=m: normalize_decimal(c, m) for m in modes],
        [lambda x, m=m: normalize_decimal_sql(x, m) for m in modes],
    )
    want = [[expected_decimal(v, m) for v in values] for m in modes]
    assert got == want + want


# doubles of at most two decimals below 1e7, where Python's repr and the
# JVM's Double.toString agree (no exponent on either side)
_doubles = st.one_of(st.none(), st.integers(-10**9 + 1, 10**9 - 1).map(lambda c: c / 100))
_decimal3 = st.one_of(st.none(), st.integers(-10**12, 10**12).map(lambda n: Decimal(n).scaleb(-3)))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(_doubles, _decimal3), min_size=1, max_size=12))
def test_render_number_against_python(spark_prop, rows):
    df = spark_prop.createDataFrame(rows, "d double, m decimal(18,3)")
    cultures = ("de-DE", "fr-FR")
    for i, col, plain in ((0, "d", repr), (1, "m", lambda m: f"{m:.3f}")):
        got = _columns(
            df,
            [lambda c, cu=cu: render_number(c, culture=cu) for cu in cultures],
            [lambda x, cu=cu: render_number_sql(x, culture=cu) for cu in cultures],
            col,
        )
        # both cultures write ',' for the decimal point without grouping
        want = [None if r[i] is None else plain(r[i]).replace(".", ",") for r in rows]
        assert got == [want] * 4, col
