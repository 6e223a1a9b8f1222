"""The staged-slice streaming queries leave no temporary directory behind,
and Python workers import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from dataintegration_csvprovider_spark.queries import all_queries
from dataintegration_csvprovider_spark.streaming.events import scratch_root

REPO = Path(__file__).resolve().parent.parent

#: every streaming query, plus two whose Python workers import the
#: package (a mapInPandas skyline and a quantile-sketch UDF)
NAMES = [n for n, q in all_queries().items() if "streaming" in q.tags] + [
    "q_skyline",
    "q_quantile_sketch",
]


def test_streaming_queries_pass_outside_the_checkout_and_leave_no_tempdir(
    tmp_path, sf_dir
):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmpdir),
        XDG_CACHE_HOME=str(REPO / ".cache"),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_oracle.py"),
         "--sf-dir", sf_dir, *NAMES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    failed = [line for line in proc.stdout.splitlines() if line.startswith("FAIL")]
    assert proc.returncode == 0, "\n".join(failed) or proc.stderr[-2000:]
    assert f"{len(NAMES)} pass, 0 fail" in proc.stdout
    assert os.listdir(tmpdir) == []


@pytest.mark.parametrize(
    "name",
    [
        "q_stream_upsert",
        "q_stream_exactly_once",
        "q_python_stream_source",
        "q_stream_csv_source",
        "q_stream_tumbling_append",
    ],
)
def test_query_returns_a_result_that_outlives_its_tempdirs(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = set(os.listdir(tmp_path))
    out = all_queries()[name].fn(spark, sf_dir)
    new = set(os.listdir(tmp_path)) - before
    assert new <= {os.path.basename(scratch_root())}
    assert out.count() > 0
