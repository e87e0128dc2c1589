import pytest

from acxspark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("acxspark-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()
