from __future__ import annotations

import pytest

from louis_crawler_legacy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus="4", shuffle_partitions=8)
    yield s
