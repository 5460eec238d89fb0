from __future__ import annotations

import pytest

from sparkstreaming_realtime_project_spark.operators.caching import (
    release_persisted,
)
from sparkstreaming_realtime_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_builder_caches():
    """Builders leave their cuts to the owner; outside a scope that is
    the process, so each test module releases what it took."""
    yield
    release_persisted()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
