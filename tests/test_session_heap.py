"""The session's default driver heap and worker path, without Spark."""

from __future__ import annotations

from pathlib import Path

import pytest

from dataintegration_csvprovider_spark import session
from dataintegration_csvprovider_spark.session import (
    _compressed_oops,
    _default_heap,
    _physical_memory,
)

GIB = 1 << 30


@pytest.mark.parametrize(
    "physical, heap",
    [
        (15 * GIB, "7g"),  # half, rounded down to whole GiB
        (16 * GIB, "8g"),
        (48 * GIB, "24g"),  # the cap
        (512 * GIB, "24g"),
        (3 * GIB, "1g"),
        (GIB, "1g"),  # never below 1g
        (None, "24g"),  # size unknown
    ],
)
def test_default_heap_is_half_of_physical_memory_up_to_24g(physical, heap):
    assert _default_heap(physical) == heap


def test_default_heap_keeps_the_archive_key_under_32g():
    # the compressed-pointer side is part of the archive key: every
    # default heap shares the key of today's 24g
    for gib in (1, 2, 8, 31, 32, 64, 100, 1024):
        assert _compressed_oops(_default_heap(gib * GIB)) is True


def test_physical_memory_reads_sysconf():
    physical = _physical_memory()
    assert physical is None or physical >= GIB


def test_workers_get_the_package_parent():
    parent = Path(session._PACKAGE_PARENT)
    assert (parent / "dataintegration_csvprovider_spark" / "session.py").is_file()
