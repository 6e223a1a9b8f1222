"""JSONL source/sink: roundtrip fidelity, defective-row skipping, FAILFAST,
and the parallel (directory) write mode."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.catalog import load_table
from dataintegration_csvprovider_spark.sources.jsonl_source import (
    JsonlSink,
    JsonlSource,
)


def _sample(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text", "lang", "n_chars")
    )


def test_roundtrip_values_and_types(spark, sf_dir, tmp_path):
    sample = _sample(spark, sf_dir)
    JsonlSink(folder=str(tmp_path)).write(sample, "docs")
    back = JsonlSource(folder=str(tmp_path)).read(spark, "docs", schema=sample.schema)
    assert back.schema == sample.schema
    orig = {r.doc_id: r for r in sample.collect()}
    got = {r.doc_id: r for r in back.collect()}
    assert got == orig


def test_skip_defective_drops_bad_lines(spark, sf_dir, tmp_path):
    sample = _sample(spark, sf_dir)
    n = sample.count()
    path = JsonlSink(folder=str(tmp_path)).write(sample, "docs")
    with open(path, "a", encoding="utf-8") as fh:
        fh.write("{bad json\n")
        fh.write('["an array, not an object"]\n')
    src = JsonlSource(folder=str(tmp_path))
    assert (
        src.read(spark, "docs", schema=sample.schema, skip_defective=True).count()
        == n
    )


def test_failfast_raises_on_bad_line(spark, sf_dir, tmp_path):
    sample = _sample(spark, sf_dir)
    path = JsonlSink(folder=str(tmp_path)).write(sample, "docs")
    with open(path, "a", encoding="utf-8") as fh:
        fh.write("{bad json\n")
    src = JsonlSource(folder=str(tmp_path))
    with pytest.raises(Exception, match="(?i)malformed|failfast|spark"):
        src.read(spark, "docs", schema=sample.schema).count()


def test_directory_write_mode(spark, sf_dir, tmp_path):
    sample = _sample(spark, sf_dir).repartition(4)
    out = JsonlSink(folder=str(tmp_path)).write(sample, "docs", single_file=False)
    assert os.path.isdir(out)
    back = spark.read.schema(sample.schema).json(out)
    assert back.count() == sample.count()


def test_empty_write_gives_empty_file(spark, sf_dir, tmp_path):
    empty = _sample(spark, sf_dir).limit(0)
    path = JsonlSink(folder=str(tmp_path)).write(empty, "docs")
    assert path.endswith("docs.jsonl")
    assert os.path.getsize(path) == 0
    assert os.listdir(tmp_path) == ["docs.jsonl"]


def test_tables_listing(spark, sf_dir, tmp_path):
    sample = _sample(spark, sf_dir)
    sink = JsonlSink(folder=str(tmp_path))
    sink.write(sample, "alpha")
    sink.write(sample, "beta")
    assert JsonlSource(folder=str(tmp_path)).tables() == ["alpha", "beta"]
