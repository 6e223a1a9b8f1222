"""Mapping compiler + job orchestration (SURVEY.md §1.1, §2.3/§2.4/§2.6)."""

from __future__ import annotations

import logging

import pytest

from dataintegration_csvprovider_spark.functions.datetimefmt import (
    DATETIME_MIN_SENTINEL,
)
from dataintegration_csvprovider_spark.jobs import JobSpec, run_job
from dataintegration_csvprovider_spark.plans.conditionals import Conditional
from dataintegration_csvprovider_spark.plans.mapping_compiler import (
    ColumnMapping,
    Mapping,
    compile_mapping,
)
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink
from dataintegration_csvprovider_spark.sources.csv_source import (
    CsvSource,
    CsvSourceOptions,
)


def _df(spark):
    return spark.createDataFrame(
        [("1", "alice", "10,5", "2024-03-01 10:00:00"),
         ("2", "bob", "1.234,56", "not-a-date"),
         ("3", "carol", "7.25", "2024-03-02 11:30:00")],
        "id string, name string, amount string, ts string",
    )


def test_projection_rename_reorder(spark):
    # P1: only active mappings, output order = mapping order
    m = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(source_column="name", destination_column="who"),
            ColumnMapping(source_column="id", destination_column="key"),
            ColumnMapping(source_column="ts", active=False),
        ],
    )
    out = compile_mapping(_df(spark), m)
    assert out.columns == ["who", "key"]


def test_conditionals_filter(spark):
    # F1: non-matching rows skipped; conjunction semantics
    m = Mapping(
        source_table="t",
        column_mappings=[ColumnMapping(source_column="id")],
        conditionals=[
            Conditional("name", "neq", "bob"),
            Conditional("id", "lte", "2"),
        ],
    )
    vals = [r.id for r in compile_mapping(_df(spark), m).collect()]
    assert vals == ["1"]


def test_conditional_param_substitution(spark):
    # request-value substitution (CSVProvider.cs:545)
    m = Mapping(
        source_table="t",
        column_mappings=[ColumnMapping(source_column="id")],
        conditionals=[Conditional("name", "eq", "@who")],
    )
    out = compile_mapping(_df(spark), m, params={"who": "carol"})
    assert [r.id for r in out.collect()] == ["3"]


def test_decimal_separator_modes(spark):
    # T1/T2: '10,5'→10.5, '1.234,56'→1234.56, '7.25' stays (auto mode)
    m = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(source_column="amount", dest_type="double"),
        ],
    )
    vals = [r.amount for r in compile_mapping(_df(spark), m).collect()]
    assert vals == [10.5, 1234.56, 7.25]


def test_decimal_separator_explicit_comma(spark):
    df = spark.createDataFrame([("1,5",), ("2.000,75",)], "amount string")
    m = Mapping(
        source_table="t",
        column_mappings=[ColumnMapping(source_column="amount", dest_type="double")],
    )
    out = compile_mapping(df, m, decimal_separator=",")
    assert [r.amount for r in out.collect()] == [1.5, 2000.75]


def test_constant_and_script_columns(spark):
    # T4: constants and scripted expressions injected as columns
    m = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(source_column="id"),
            ColumnMapping(destination_column="src", constant="csv"),
            ColumnMapping(destination_column="name_upper", script="upper(name)"),
        ],
    )
    r = compile_mapping(_df(spark), m).collect()[0]
    assert (r.id, r.src, r.name_upper) == ("1", "csv", "ALICE")


def test_datetime_format_and_min_sentinel(spark):
    # T5: reference render format; unparseable → DateTime.MinValue sentinel
    m = Mapping(
        source_table="t",
        column_mappings=[
            ColumnMapping(source_column="ts", dest_type="datetime"),
        ],
    )
    vals = [r.ts for r in compile_mapping(_df(spark), m).collect()]
    assert vals[0] == "01-03-2024 10:00:00:000"
    assert vals[1] == DATETIME_MIN_SENTINEL


def test_no_active_mappings_raises(spark):
    m = Mapping(source_table="t", column_mappings=[])
    with pytest.raises(ValueError, match="no active column mappings"):
        compile_mapping(_df(spark), m)


def test_run_job_end_to_end(spark, tmp_path):
    # J1/J2: multi-mapping job, folder source → csv sink, per-table outputs
    srcdir = tmp_path / "in"
    srcdir.mkdir()
    (srcdir / "people.csv").write_text('id;name;amount\n1;"ann";10,5\n2;"bo";3,5\n')
    (srcdir / "cities.csv").write_text("code;city\nNY;New York\nSF;San Francisco\n")

    job = JobSpec(
        source=CsvSource(folder=str(srcdir)),
        destination=CsvSink(folder=str(tmp_path / "out")),
        mappings=[
            Mapping(
                source_table="people",
                destination_table="people_clean",
                column_mappings=[
                    ColumnMapping(source_column="id", dest_type="int"),
                    ColumnMapping(source_column="name", destination_column="who"),
                    ColumnMapping(source_column="amount", dest_type="double"),
                ],
                conditionals=[Conditional("name", "neq", "bo")],
            ),
            Mapping(
                source_table="cities",
                column_mappings=[ColumnMapping(source_column="city")],
            ),
            Mapping(source_table="cities", active=False,
                    column_mappings=[ColumnMapping(source_column="code")]),
        ],
    )
    res = run_job(spark, job)
    assert res.success, res.errors
    assert set(res.outputs) == {"people_clean", "cities"}
    lines = open(res.outputs["people_clean"]).read().splitlines()
    assert lines == ['"id";"who";"amount"', '"1";"ann";"10.5"']


def test_job_spec_json_roundtrip(tmp_path):
    # J3: settings round-trip (JSON instead of the reference's XML)
    job = JobSpec(
        source=CsvSource(folder="/in", options=CsvSourceOptions(delimiter=",")),
        destination=CsvSink(folder="/out"),
        mappings=[
            Mapping(
                source_table="a",
                column_mappings=[ColumnMapping(source_column="x", dest_type="double")],
                conditionals=[Conditional("x", "gt", "5")],
            )
        ],
        params={"who": "x"},
    )
    back = JobSpec.from_json(job.to_json())
    assert back.source.options.delimiter == ","
    assert back.mappings[0].column_mappings[0].dest_type == "double"
    assert back.mappings[0].conditionals[0].op == "gt"
    assert back.to_json() == job.to_json()


def test_validation_warnings_logged(spark, tmp_path, caplog):
    # S5: a source with both a file and a folder warns that the file
    # overrides (CSVProvider.cs:274-277); run_job logs the warning
    srcdir = tmp_path / "in"
    srcdir.mkdir()
    (srcdir / "t.csv").write_text("a;b\n1;2\n")
    job = JobSpec(
        source=CsvSource(folder=str(srcdir), file=str(srcdir / "t.csv")),
        destination=CsvSink(folder=str(tmp_path / "out")),
        mappings=[Mapping(source_table="t", column_mappings=[ColumnMapping(source_column="a")])],
    )
    with caplog.at_level(logging.WARNING, logger="dataintegration_csvprovider_spark.jobs"):
        res = run_job(spark, job)
    assert res.success, res.errors
    warnings = [r for r in caplog.records if r.name == "dataintegration_csvprovider_spark.jobs"]
    assert [r.getMessage() for r in warnings] == [
        "both source file and folder are set; the file overrides"
    ]
    assert all(r.levelno == logging.WARNING for r in warnings)


def test_job_error_capture(spark, tmp_path):
    # E5: per-mapping failure captured, job returns success=False
    srcdir = tmp_path / "in"
    srcdir.mkdir()
    (srcdir / "t.csv").write_text("a;b\n1;2\n")
    job = JobSpec(
        source=CsvSource(folder=str(srcdir)),
        destination=CsvSink(folder=str(tmp_path / "out")),
        mappings=[
            Mapping(
                source_table="missing_table",
                column_mappings=[ColumnMapping(source_column="a")],
            )
        ],
    )
    res = run_job(spark, job)
    assert not res.success and res.errors


def test_negative_conditionals_keep_nulls(spark):
    # the reference compares CSV cell strings (blank, never NULL) — so
    # "neq"/"not_contains"/"not_in" must not drop NULL cells
    from dataintegration_csvprovider_spark.plans.conditionals import (
        Conditional,
        apply_conditionals,
    )

    df = spark.createDataFrame(
        [("a",), ("b",), (None,)], "cat string"
    )
    got = [r.cat for r in apply_conditionals(
        df, [Conditional("cat", "neq", "b")]).collect()]
    assert sorted(x or "" for x in got) == ["", "a"]
    got = [r.cat for r in apply_conditionals(
        df, [Conditional("cat", "not_contains", "b")]).collect()]
    assert sorted(x or "" for x in got) == ["", "a"]
    got = [r.cat for r in apply_conditionals(
        df, [Conditional("cat", "not_in", ["b"])]).collect()]
    assert sorted(x or "" for x in got) == ["", "a"]


def test_engine_facade_round5_methods(spark):
    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.engine import Engine

    for name in (
        "filter_funnel", "scrub_boilerplate_lines", "dsir_importance",
        "span_corruption", "snapshot_diff", "pca_fit", "pca_project",
        "prototype_prune", "negative_samples", "budget_curation",
        "ks_two_sample", "length_bucketed_batches",
        "write_training_shards", "plan_lsh_bands",
    ):
        assert callable(getattr(Engine, name)), name
    # one end-to-end smoke through the facade
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    out = Engine.filter_funnel(df, [("pos", F.col("v") >= 5)]).collect()
    assert out[0]["n_surviving"] == 5
    assert Engine.plan_lsh_bands(0.5)[1] >= 1
