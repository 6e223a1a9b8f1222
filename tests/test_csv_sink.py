"""CSV sink semantics (SURVEY.md §2.2; reference CSVDestinationWriter)."""

from __future__ import annotations

import codecs
import datetime as dt
import os

from dataintegration_csvprovider_spark.jobs import JobSpec, run_job
from dataintegration_csvprovider_spark.plans.mapping_compiler import (
    ColumnMapping,
    Mapping,
)
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink, CsvSinkOptions
from dataintegration_csvprovider_spark.sources.csv_source import (
    CsvSource,
    CsvSourceOptions,
)


def test_quoting_and_null_sentinel(spark, tmp_path):
    # K3: non-NULL quoted; NULL unquoted sentinel (CSVDestinationWriter.cs:129-131)
    df = spark.createDataFrame([("a", None), (None, "b")], "x string, y string")
    sink = CsvSink(folder=str(tmp_path))
    path = sink.write(df, "out")
    lines = open(path).read().splitlines()
    assert lines[0] == '"x";"y"'  # K2 quoted header
    assert sorted(lines[1:]) == ['"a";NULL', 'NULL;"b"']


def test_newline_scrub(spark, tmp_path):
    # T7: embedded newlines stripped from written rows (CSVDestinationWriter.cs:89)
    df = spark.createDataFrame(
        [(0, "a\nb\r\nc"), (1, "d\re"), (2, "f\ng")], "i int, x string"
    ).orderBy("i")
    sink = CsvSink(folder=str(tmp_path))
    path = sink.write(df, "out")
    with open(path, newline="") as fh:
        assert fh.read().split("\n")[1:] == [
            '"0";"abc"', '"1";"de"', '"2";"fg"', ""
        ]


def test_quote_escaping_divergence(spark, tmp_path):
    # deliberate improvement over the reference's no-escape concat
    # (CSVDestinationWriter.cs:114,135) — embedded quotes are doubled
    df = spark.createDataFrame([('say "hi"',)], "x string")
    sink = CsvSink(folder=str(tmp_path))
    path = sink.write(df, "out")
    assert open(path).read().splitlines()[1] == '"say ""hi"""'


def test_header_toggle_and_filename(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x int")
    sink = CsvSink(
        folder=str(tmp_path),
        options=CsvSinkOptions(first_row_contains_column_names=False),
    )
    path = sink.write(df, "mytable")
    assert path.endswith("mytable.csv")
    assert open(path).read() == '"1"\n'


def test_timestamped_filename(spark, tmp_path):
    # K1: optional timestamp suffix (CSVDestinationWriter.cs:24-27)
    df = spark.createDataFrame([(1,)], "x int")
    sink = CsvSink(
        folder=str(tmp_path),
        options=CsvSinkOptions(include_timestamp_in_filename=True),
    )
    ts = dt.datetime(2026, 1, 2, 3, 4, 5, 678901)
    path = sink.write(df, "t", timestamp=ts)
    # .NET FFFFFFF: 678901 µs -> 6789010 ticks -> trailing zero trimmed
    assert path.endswith("t20260102-030405678901.csv")
    # whole fraction omitted when zero
    path2 = sink.write(df, "t2", timestamp=dt.datetime(2026, 1, 2, 3, 4, 5))
    assert path2.endswith("t220260102-030405.csv")
    # mid-fraction zeros kept: 500000 µs -> "5"
    path3 = sink.write(
        df, "t3", timestamp=dt.datetime(2026, 1, 2, 3, 4, 5, 500000)
    )
    assert path3.endswith("t320260102-0304055.csv")


def test_encoding_utf16_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("café",)], "x string")
    sink = CsvSink(folder=str(tmp_path), options=CsvSinkOptions(encoding="UTF-16"))
    path = sink.write(df, "out")
    text = open(path, encoding="utf-16").read()
    assert '"café"' in text
    # parts from several partitions are re-encoded as one stream: the
    # file starts with the only BOM (the utf-16 decoder consumes it)
    many = spark.createDataFrame(
        [(f"café{i}",) for i in range(40)], "x string"
    ).repartition(4)
    path = sink.write(many, "many")
    raw = open(path, "rb").read()
    assert raw.startswith((codecs.BOM_UTF16_LE, codecs.BOM_UTF16_BE))
    text = raw.decode("utf-16")
    assert "\ufeff" not in text
    assert sorted(text.splitlines()[1:]) == sorted(f'"café{i}"' for i in range(40))


def test_single_file_keeps_partition_order(spark, tmp_path):
    # parts are written in parallel and joined in partition order — the
    # order a coalesce(1) would have produced
    df = spark.range(0, 1000, numPartitions=4)
    path = CsvSink(folder=str(tmp_path)).write(df, "ids")
    lines = open(path).read().splitlines()
    assert lines == ['"id"'] + [f'"{i}"' for i in range(1000)]


def test_parts_ordered_by_numeric_task_index(tmp_path):
    # Spark's %05d task index widens past 99,999; name order would put
    # part-100000 before part-99999
    from dataintegration_csvprovider_spark.sinks.staged import _parts_in_order

    names = ["part-100000-u-c000.txt", "part-99999-u-c001.txt",
             "part-99999-u-c000.txt", "_SUCCESS", ".part-00000-u-c000.txt.crc"]
    for n in names:
        (tmp_path / n).write_text("")
    assert [os.path.basename(p) for p in _parts_in_order(str(tmp_path))] == [
        "part-99999-u-c000.txt", "part-99999-u-c001.txt", "part-100000-u-c000.txt"
    ]


def test_empty_result_is_header_only(spark, tmp_path):
    df = spark.createDataFrame([], "x string, y int")
    path = CsvSink(folder=str(tmp_path)).write(df, "empty")
    assert open(path).read() == '"x";"y"\n'


def test_failed_write_leaves_no_staging(spark, tmp_path):
    # a FAILFAST source with a defective row fails the sink's Spark job;
    # neither the staging directory nor a temp file may survive it
    srcdir = tmp_path / "in"
    srcdir.mkdir()
    (srcdir / "t.csv").write_text("a;b\n1;2\n3;4;5\n")
    out = tmp_path / "out"
    job = JobSpec(
        source=CsvSource(folder=str(srcdir)),
        destination=CsvSink(folder=str(out)),
        mappings=[
            Mapping(
                source_table="t",
                column_mappings=[
                    ColumnMapping(source_column="a"),
                    ColumnMapping(source_column="b"),
                ],
            )
        ],
    )
    res = run_job(spark, job)
    assert not res.success and res.errors
    left = os.listdir(out) if out.exists() else []
    assert [n for n in left if n.startswith("_staging_") or n.endswith(".tmp")] == []
    assert "t.csv" not in left


def test_multi_part_scale_mode(spark, tmp_path):
    # single_file=False: parallel directory write, identical row bytes
    df = spark.range(100).selectExpr("cast(id as string) AS x").repartition(4)
    sink = CsvSink(folder=str(tmp_path))
    out = sink.write(df, "big", single_file=False)
    import glob

    parts = glob.glob(out + "/part-*")
    assert len(parts) >= 2  # stayed parallel
    src = CsvSource(
        file=None,
        folder=None,
        options=CsvSourceOptions(first_row_contains_column_names=False),
    )
    # read the directory back with spark directly (glob consumers)
    rd = spark.read.options(**src.options.spark_read_options()).csv(out + "/part-*")
    assert rd.count() == 100


def test_roundtrip_through_source(spark, tmp_path):
    # write → read back through CsvSource preserves values and nulls
    df = spark.createDataFrame(
        [("1", "alpha", None), ("2", None, "x;y"), ("3", 'q"q', "z")],
        "id string, a string, b string",
    )
    sink = CsvSink(folder=str(tmp_path / "out"))
    sink.write(df, "t")
    src = CsvSource(folder=str(tmp_path / "out"))
    back = src.read(spark, "t").collect()
    got = sorted(tuple(r) for r in back)
    assert got == [("1", "alpha", None), ("2", None, "x;y"), ("3", 'q"q', "z")]


def test_culture_number_rendering(spark, tmp_path):
    # T6: reference parity for string.Format(cultureInfo, "{0}", v) —
    # da-DK renders ',' decimals, en-US '.', no thousands grouping
    # (CSVDestinationWriter.cs:135; culture res CSVProvider.cs:618-629)
    df = spark.createDataFrame(
        [(1, 1234.56, "a"), (2, -0.5, "b"), (3, None, "c")],
        "id int, amount double, tag string",
    )
    for culture, expect in (
        ("da-DK", "1234,56"),
        ("en-US", "1234.56"),
        ("", "1234.56"),  # invariant default
        ("no-such-culture", "1234.56"),  # unknown -> invariant, not host
    ):
        sink = CsvSink(
            folder=str(tmp_path / f"c_{culture or 'inv'}"),
            options=CsvSinkOptions(culture=culture),
        )
        path = sink.write(df, "t")
        lines = open(path, encoding="utf-8").read().splitlines()
        row1 = [c.strip('"') for c in lines[1].split(";")]
        assert row1[1] == expect, (culture, lines[1])
    # decimal-typed columns render exact digits with the culture separator
    dec = spark.createDataFrame([(1,)], "id int").selectExpr(
        "id", "CAST(99999.10 AS DECIMAL(18,2)) AS amt"
    )
    sink = CsvSink(folder=str(tmp_path / "dec"), options=CsvSinkOptions(culture="de-DE"))
    path = sink.write(dec, "t")
    assert '"99999,10"' in open(path, encoding="utf-8").read()


def test_culture_map_groups():
    from dataintegration_csvprovider_spark.functions.numeric import (
        culture_number_format,
    )

    assert culture_number_format("da-DK") == (",", ".")
    assert culture_number_format("fr-FR") == (",", "\u00a0")  # NBSP grouping
    assert culture_number_format("en-US") == (".", ",")
    assert culture_number_format(None) == (".", ",")
