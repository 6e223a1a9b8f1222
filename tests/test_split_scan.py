"""A single small CSV file splits across the session's cores.

``get_spark`` lowers ``spark.sql.files.openCostInBytes`` so that a file of
a few MB is scanned by more than one task. Each split starts at its first
line break, so a row straddling a split point belongs to exactly one
task; these tests put quoted delimiters and defective rows around the
split points and check that the single-file output is byte-identical to
a one-task scan, and that FAILFAST still fails on a defective row that
only the second task reads.
"""

from __future__ import annotations

import bisect
import contextlib

import pytest
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.jobs import JobSpec, run_job
from dataintegration_csvprovider_spark.plans.mapping_compiler import (
    ColumnMapping,
    Mapping,
)
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink, CsvSinkOptions
from dataintegration_csvprovider_spark.sources.csv_source import (
    ENCODINGS,
    CsvSource,
    CsvSourceOptions,
)

OPEN_COST = "spark.sql.files.openCostInBytes"
#: Spark's stock open cost, under which a file this size is one split
STOCK_OPEN_COST = str(4 * 1024 * 1024)
ROWS = 30_000  # 1.1-1.3 MB

ENCODING_CASES = ["UTF-8", "Windows-1252"]


def _lines() -> list[str]:
    """Header plus ROWS good rows: quoted names holding the delimiter and
    doubled quotes, comma decimals, and cp1252-encodable non-ASCII."""
    out = ["id;name;amount;note"]
    for i in range(ROWS):
        name = f'"n{i};x ""q"""' if i % 3 else f"n{i}"
        out.append(f"{i};{name};{i % 997},{i % 100:02d};café € {i}")
    return out


def _write(path, lines: list[str], encoding: str) -> list[int]:
    """Write ``lines`` LF-terminated; return each line's start byte and,
    last, the file size."""
    data = [(ln + "\n").encode(ENCODINGS[encoding]) for ln in lines]
    bounds = [0]
    for b in data:
        bounds.append(bounds[-1] + len(b))
    path.write_bytes(b"".join(data))
    return bounds


def _split_starts(spark, path: str) -> list[int]:
    """Byte offsets at which the scan's second and later splits begin."""
    blocks = spark.read.text(path).select(F.input_file_block_start().alias("s")).distinct()
    return sorted(r.s for r in blocks.collect() if r.s > 0)


def _defective(line_bytes: int) -> str:
    """A one-field row (the table has four) of the same byte length, so
    the split points do not move."""
    return "x" * (line_bytes - 1)


def _with_defects(lines, bounds, rows_at) -> list[str]:
    """``lines`` with the rows at the given line indexes replaced by
    defective rows of equal byte length."""
    out = list(lines)
    for i in rows_at:
        out[i] = _defective(bounds[i + 1] - bounds[i])
    return out


def _line_at(bounds: list[int], offset: int) -> int:
    """Index of the line holding byte ``offset``."""
    return bisect.bisect_right(bounds, offset) - 1


def _job(src_dir, out_dir, encoding: str, skip: bool) -> JobSpec:
    return JobSpec(
        source=CsvSource(
            folder=str(src_dir),
            options=CsvSourceOptions(encoding=encoding, ignore_defective_rows=skip),
        ),
        destination=CsvSink(folder=str(out_dir), options=CsvSinkOptions(encoding=encoding)),
        mappings=[
            Mapping(
                source_table="t",
                column_mappings=[
                    ColumnMapping(source_column="id", dest_type="int"),
                    ColumnMapping(source_column="name"),
                    ColumnMapping(source_column="amount", dest_type="double"),
                    ColumnMapping(source_column="note"),
                ],
            )
        ],
    )


@contextlib.contextmanager
def _stock_open_cost(spark):
    """Spark's stock open cost inside the block, the session's after."""
    saved = spark.conf.get(OPEN_COST)
    spark.conf.set(OPEN_COST, STOCK_OPEN_COST)
    try:
        yield
    finally:
        spark.conf.set(OPEN_COST, saved)


@pytest.mark.parametrize("encoding", ENCODING_CASES)
def test_split_scan_output_equals_one_task_scan(spark, tmp_path, encoding):
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    path = src_dir / "t.csv"
    lines = _lines()
    bounds = _write(path, lines, encoding)
    assert path.stat().st_size >= 1_000_000
    splits = _split_starts(spark, str(path))
    assert splits, "the file should split under the session's open cost"
    # defective rows on, just before and just after every split point
    near = set()
    for s in splits:
        i = _line_at(bounds, s)
        near.update(j for j in (i - 1, i, i + 1) if 0 < j < len(lines))
    lines = _with_defects(lines, bounds, sorted(near))
    assert _write(path, lines, encoding) == bounds

    source = _job(src_dir, tmp_path / "split", encoding, skip=True).source
    assert source.read(spark, "t").rdd.getNumPartitions() >= 2
    split = run_job(spark, _job(src_dir, tmp_path / "split", encoding, skip=True))
    with _stock_open_cost(spark):
        assert source.read(spark, "t").rdd.getNumPartitions() == 1
        whole = run_job(spark, _job(src_dir, tmp_path / "whole", encoding, skip=True))
    assert split.success and whole.success, split.errors + whole.errors
    got = open(split.outputs["t"], "rb").read()
    assert got == open(whole.outputs["t"], "rb").read()
    # header plus every good row, none of the defective ones
    assert got.count(b"\n") == 1 + ROWS - len(near)


@pytest.mark.parametrize("encoding", ENCODING_CASES)
def test_failfast_on_defect_only_in_second_split(spark, tmp_path, encoding):
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    path = src_dir / "t.csv"
    lines = _lines()
    bounds = _write(path, lines, encoding)
    splits = _split_starts(spark, str(path))
    assert splits
    # a row starting exactly at the split point is still read by the
    # first split, so take the one after it
    first = bisect.bisect_left(bounds, splits[0])
    _write(path, _with_defects(lines, bounds, [first + 1]), encoding)

    res = run_job(spark, _job(src_dir, tmp_path / "out", encoding, skip=False))
    assert not res.success
    assert "malformed" in " ".join(res.errors).lower(), res.errors
    assert not (tmp_path / "out" / "t.csv").exists()
