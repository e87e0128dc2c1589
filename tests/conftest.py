import os

import pytest

from acxspark.session import get_spark


def _test_driver_mem() -> str:
    """Half of host RAM, capped at 8g. The library default heap (16g)
    is all of a 16 GB host: the suite's one long-lived JVM grows toward
    it and the kernel OOM-kills it mid-suite (seen at 14.8 GB RSS)."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(2, min(8, kb // (2 << 20)))}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("ACX_DRIVER_MEM", _test_driver_mem())
    s = get_spark("acxspark-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()
