import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from poppy_spark.spark.session import get_spark

    # the tier-1 command exports the host's core count here
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    s = get_spark(app_name="poppy-spark-tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    d = os.environ.get("POPPY_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(d):
        pytest.skip(f"testdata dir {d} missing")
    return d
