"""No-Spark lint: no query leaves a temporary directory behind, and one
harness replays staged slices.

A query-scoped directory is a ``tempfile.TemporaryDirectory`` block, so
``queries/`` calls no ``mkdtemp(``; what must outlive a query lives under
``streaming/events.py:scratch_root``. A fixed micro-batch schedule comes
from ``streaming/events.py`` (``stage_slices``, ``slice_stream``,
``run_batches``), the only module that sets the file source's
``maxFilesPerTrigger``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dataintegration_csvprovider_spark"

#: the one module (relative to the package) that may set
#: ``maxFilesPerTrigger``
HARNESS = "streaming/events.py"


def stray_tempdirs(src: str, name: str) -> list[str]:
    """``name:line what`` for every ``mkdtemp(`` call in a ``queries/``
    module and every ``"maxFilesPerTrigger"`` literal outside
    :data:`HARNESS`."""
    found = []
    for node in ast.walk(ast.parse(src)):
        if (
            name.startswith("queries/")
            and isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "mkdtemp"
        ):
            found.append((node.lineno, "mkdtemp"))
        if (
            name != HARNESS
            and isinstance(node, ast.Constant)
            and node.value == "maxFilesPerTrigger"
        ):
            found.append((node.lineno, "maxFilesPerTrigger"))
    return [f"{name}:{line} {what}" for line, what in sorted(found)]


def test_no_stray_tempdirs_or_slice_replays():
    found = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        found += stray_tempdirs(p.read_text(), rel)
    assert not found, (
        "use tempfile.TemporaryDirectory (or events.scratch_root) for "
        "temporary directories and stage_slices/slice_stream/run_batches "
        "for a staged-slice replay:\n" + "\n".join(found)
    )


def test_lint_flags_a_private_copy():
    twin = '''
import tempfile
from tempfile import mkdtemp

def q_x(spark):
    stage = tempfile.mkdtemp(prefix="x_")
    ck = mkdtemp()
    feed = spark.readStream.option("maxFilesPerTrigger", "1").load(stage)
    doc = "staged files, maxFilesPerTrigger=1"
'''
    assert stray_tempdirs(twin, "queries/streaming.py") == [
        "queries/streaming.py:6 mkdtemp",
        "queries/streaming.py:7 mkdtemp",
        "queries/streaming.py:8 maxFilesPerTrigger",
    ]
    assert stray_tempdirs(twin, "sinks/staged.py") == [
        "sinks/staged.py:8 maxFilesPerTrigger"
    ]
    assert stray_tempdirs(twin, HARNESS) == []
