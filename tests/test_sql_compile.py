"""The SQL-text compile of mappings and the CSV render.

Every ``*_sql`` builder must give, through ``selectExpr``, what its
public Column helper gives, whichever way the session reads backslashes
in string literals; constants must keep ``F.lit``'s types; names,
delimiters and scripts must survive the trip through SQL text; and the
compile plus render of a mapping must stay within a fixed number of py4j
round trips.
"""

from __future__ import annotations

import datetime as dt
import math
import threading
from decimal import Decimal

import py4j.clientserver
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.functions.datetimefmt import (
    format_reference_datetime,
    format_reference_datetime_sql,
)
from dataintegration_csvprovider_spark.functions.numeric import (
    parse_double,
    parse_double_sql,
    render_number,
    render_number_sql,
)
from dataintegration_csvprovider_spark.functions.sqltext import sql_ident
from dataintegration_csvprovider_spark.functions.text import csv_quote, csv_quote_sql
from dataintegration_csvprovider_spark.plans.conditionals import Conditional
from dataintegration_csvprovider_spark.plans.mapping_compiler import (
    ColumnMapping,
    Mapping,
    compile_mapping,
)
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink, CsvSinkOptions

# cells that stress SQL quoting and the render: both quote characters,
# backslash (Spark unescapes it in literals), CR/LF and a lone CR,
# non-ASCII, the separators the decimal parser looks at, and NULL
_tricky = st.one_of(
    st.none(),
    st.text(
        alphabet=st.sampled_from(list("0123456789.,-+eE \"'\\\r\nxä€ ")),
        max_size=12,
    ),
)
_datetime_text = st.one_of(
    _tricky,
    st.datetimes(min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1))
    .map(lambda d: d.isoformat(sep=" ")),
)


def _key(v):
    """Row values compared so that NaN equals NaN and -0.0 differs from 0.0."""
    return repr(v) if isinstance(v, float) else v


def _same_frames(got, want):
    assert got.schema == want.schema
    assert [tuple(map(_key, r)) for r in got.collect()] == [
        tuple(map(_key, r)) for r in want.collect()
    ]


def _same(df, columns, texts):
    """``df.selectExpr(texts)`` gives what ``df.select(columns)`` gives."""
    _same_frames(
        df.selectExpr(*[f"{t} AS c{i}" for i, t in enumerate(texts)]),
        df.select(*[c.alias(f"c{i}") for i, c in enumerate(columns)]),
    )


@settings(max_examples=30, deadline=None)
@given(st.lists(_tricky, min_size=1, max_size=12))
def test_csv_quote_builder_matches_helper(spark_prop, values):
    df = spark_prop.createDataFrame([(v,) for v in values], "s string")
    s, x = F.col("s"), sql_ident("s")
    cases = [('"', "NULL"), ("'", "NULL"), ('"', "it's NULL"), ("'", "\\N")]
    _same(
        df,
        [csv_quote(s, quote=q, null_sentinel=n) for q, n in cases],
        [csv_quote_sql(x, quote=q, null_sentinel=n) for q, n in cases],
    )


@settings(max_examples=30, deadline=None)
@given(st.lists(_tricky, min_size=1, max_size=12))
def test_parse_double_builder_matches_helper(spark_prop, values):
    df = spark_prop.createDataFrame([(v,) for v in values], "s string")
    modes = ("auto", ".", ",")
    _same(
        df,
        [parse_double(F.col("s"), m) for m in modes],
        [parse_double_sql(sql_ident("s"), m) for m in modes],
    )


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            _datetime_text,
            st.one_of(
                st.none(),
                st.datetimes(
                    min_value=dt.datetime(1, 1, 1), max_value=dt.datetime(9999, 1, 1)
                ),
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_format_datetime_builder_matches_helper(spark_prop, rows):
    df = spark_prop.createDataFrame(rows, "s string, ts timestamp")
    _same(
        df,
        [format_reference_datetime(F.col(c)) for c in ("s", "ts")],
        [format_reference_datetime_sql(sql_ident(c)) for c in ("s", "ts")],
    )


_number = st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True),
    st.floats(min_value=-1e7, max_value=1e7),
)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            _number,
            st.one_of(st.none(), st.decimals(min_value=-10**9, max_value=10**9, places=3)),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_render_number_builder_matches_helper(spark_prop, rows):
    df = spark_prop.createDataFrame(rows, "d double, m decimal(18,3)").selectExpr(
        "d", "CAST(d AS FLOAT) AS f", "m"
    )
    cases = [
        (c, culture, grouping)
        for c in ("d", "f", "m")
        for culture in ("", "de-DE", "fr-FR")
        for grouping in (False, True)
    ]
    _same(
        df,
        [render_number(F.col(c), culture=cu, grouping=g) for c, cu, g in cases],
        [render_number_sql(sql_ident(c), culture=cu, grouping=g) for c, cu, g in cases],
    )


def test_constants_keep_lit_types(spark):
    df = spark.range(1)
    constants = [
        "it's a \\ \"q\"\r\n ä",
        "",
        True,
        False,
        7,
        -(2**31),
        2**31,
        -(2**63),
        2**63 - 1,
        1.5,
        -0.0,
        math.inf,
        -math.inf,
        math.nan,
        1e-300,
        5e-324,
        1e16,
        Decimal("1.50"),
        Decimal("-0.001"),
        Decimal("1E+3"),
        Decimal("12345678901234567890.123"),
        dt.date(2024, 2, 29),
        dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone(dt.timedelta(hours=2))),
        b"a\x00b",
    ]
    mapping = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(destination_column=f"k{i}", constant=v)
            for i, v in enumerate(constants)
        ],
    )
    _same_frames(
        compile_mapping(df, mapping),
        df.select(*[F.lit(v).alias(f"k{i}") for i, v in enumerate(constants)]),
    )
    # a naive datetime follows the session's preferred timestamp type
    naive = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        _same_frames(
            compile_mapping(df, Mapping("t", column_mappings=[
                ColumnMapping(destination_column="k", constant=naive)])),
            df.select(F.lit(naive).alias("k")),
        )
    finally:
        spark.conf.unset("spark.sql.timestampType")


def test_escaped_string_literals_setting(spark, tmp_path):
    """``spark.sql.parser.escapedStringLiterals`` changes how SQL string
    literals read backslashes and doubled quotes; the compiled text must
    give the Column helpers' values either way."""
    values = ["1.234,5", "1,234.5", "a'b\\c", "\\N", "x\r\ny", None]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    s, x = F.col("s"), sql_ident("s")
    quotes = [('"', "NULL"), ("'", "it's \\N")]
    constants = ["it's", "a\\b", "\\'", "'"]
    mapping = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(destination_column=f"k{i}", constant=v)
            for i, v in enumerate(constants)
        ],
    )
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        _same(
            df,
            [parse_double(s, m) for m in ("auto", ".", ",")]
            + [csv_quote(s, quote=q, null_sentinel=n) for q, n in quotes],
            [parse_double_sql(x, m) for m in ("auto", ".", ",")]
            + [csv_quote_sql(x, quote=q, null_sentinel=n) for q, n in quotes],
        )
        _same_frames(
            compile_mapping(df, mapping),
            df.select(*[F.lit(v).alias(f"k{i}") for i, v in enumerate(constants)]),
        )
        sink = CsvSink(
            folder=str(tmp_path),
            options=CsvSinkOptions(delimiter="\\", null_sentinel="it's"),
        )
        path = sink.write(df.select("s", F.lit("x").alias("t")), "t")
        with open(path, encoding="utf-8", newline="") as fh:
            assert fh.read().split("\n")[1:] == [
                f'{cell}\\"x"'
                for cell in ('"1.234,5"', '"1,234.5"', '"a\'b\\c"', '"\\N"', '"xy"', "it's")
            ] + [""]
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_unusual_column_names(spark, tmp_path):
    names = ["a b", "a.b", "a`b", "ä€", "1st", "x'y"]
    df = spark.createDataFrame([tuple(f"v{i}" for i in range(len(names)))],
                               ", ".join(f"`{n.replace('`', '``')}` string" for n in names))
    mapping = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(source_column=n, destination_column=n[::-1])
            for n in names
        ],
        conditionals=[Conditional("a b", "eq", "v0"), Conditional("a.b", "eq", "v1")],
    )
    out = compile_mapping(df, mapping)
    assert out.columns == [n[::-1] for n in names]
    assert tuple(out.collect()[0]) == tuple(f"v{i}" for i in range(len(names)))
    path = CsvSink(folder=str(tmp_path)).write(out, "t")
    with open(path, encoding="utf-8", newline="") as fh:
        header, row = fh.read().splitlines()
    assert header == ";".join(f'"{n[::-1]}"' for n in names)
    assert row == ";".join(f'"v{i}"' for i in range(len(names)))


def test_sink_delimiters(spark, tmp_path):
    df = spark.createDataFrame([("a'b\\c", None, "d\te||f")], "x string, y string, z string")
    for i, delim in enumerate(("'", "\\", "\t", "||")):
        sink = CsvSink(folder=str(tmp_path / str(i)), options=CsvSinkOptions(delimiter=delim))
        with open(sink.write(df, "t"), encoding="utf-8", newline="") as fh:
            assert fh.read().split("\n") == [
                delim.join(['"x"', '"y"', '"z"']),
                delim.join(['"a\'b\\c"', "NULL", '"d\te||f"']),
                "",
            ]


def test_scripts_compile_like_expr(spark):
    df = spark.createDataFrame(
        [("1", "ann", "2,5"), ("2", "bo", None)], "id string, name string, amount string"
    )
    scripts = [
        ("upper(name)", None, F.expr("upper(name)")),
        # a low-precedence operator must stay inside its conversion
        ("name || '-' || id", "string", F.expr("name || '-' || id").cast("string")),
        ("id || ',5'", "double", parse_double(F.expr("id || ',5'").cast("string"))),
        ("id + 1", "int", F.expr("id + 1").try_cast("int")),
        ("CASE WHEN id = '1' THEN 'x)' ELSE NULL END", None,
         F.expr("CASE WHEN id = '1' THEN 'x)' ELSE NULL END")),
        ("concat(name, '--') -- trailing comment", None, F.expr("concat(name, '--')")),
        ("'2024-01-0' || id", "datetime",
         format_reference_datetime(F.expr("'2024-01-0' || id"))),
    ]
    mapping = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(destination_column=f"s{i}", script=s, dest_type=t)
            for i, (s, t, _) in enumerate(scripts)
        ],
    )
    _same_frames(
        compile_mapping(df, mapping),
        df.select(*[c.alias(f"s{i}") for i, (_, _, c) in enumerate(scripts)]),
    )


def test_compile_and_render_py4j_budget(spark, tmp_path):
    # the benchmark's mapping shape: 2 double, 2 datetime, 3 casts, a
    # constant and a conditional; about 1,500 round trips when every
    # transform was built through the Column API
    cols = ["id", "name", "a", "b", "c", "d", "q", "acct", "region"]
    df = spark.createDataFrame([tuple("1" for _ in cols)], ", ".join(f"{c} string" for c in cols))
    mapping = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping("id", dest_type="bigint"),
            ColumnMapping("name"),
            ColumnMapping("a", dest_type="double"),
            ColumnMapping("b", dest_type="double"),
            ColumnMapping("c", dest_type="datetime"),
            ColumnMapping("d", dest_type="datetime"),
            ColumnMapping("q", dest_type="int"),
            ColumnMapping("acct", dest_type="bigint"),
            ColumnMapping(destination_column="src", constant="perfbench"),
        ],
        conditionals=[Conditional("region", "eq", "north")],
    )
    sink = CsvSink(folder=str(tmp_path))
    conn = py4j.clientserver.ClientServerConnection
    send, caller, calls = conn.send_command, threading.get_ident(), [0]

    def counting(self, command):
        # py4j's finalizer thread sends deferred object deletions on
        # its own connection; only this thread's calls are the compile's
        calls[0] += threading.get_ident() == caller
        return send(self, command)

    conn.send_command = counting
    try:
        out = compile_mapping(df, mapping)
        sink._serialized(out)
    finally:
        conn.send_command = send
    assert calls[0] <= 60, calls[0]
