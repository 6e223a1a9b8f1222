from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
# the session factory keeps its class-data-sharing archive in the user
# cache (see session.py); tests keep theirs in the checkout instead
os.environ["XDG_CACHE_HOME"] = str(REPO / ".cache")

from dataintegration_csvprovider_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Session Spark fixture aliased for hypothesis tests (function-scoped
    @given can't take function-scoped fixtures)."""
    return spark
