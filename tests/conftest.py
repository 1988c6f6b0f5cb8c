from __future__ import annotations

import os

import pytest

from louis_crawler_legacy_spark.session import get_spark


def _driver_mem() -> str:
    """Half the machine's memory, clamped to 2-24 GiB. The package's 24g
    default lets the one JVM of a full suite run grow its heap past a
    16 GB machine's RAM, and the kernel then kills it mid-suite."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{min(24, max(2, kb // (2 * 1024 * 1024)))}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", _driver_mem())
    s = get_spark(app_name="tests", cpus="4", shuffle_partitions=8)
    yield s
