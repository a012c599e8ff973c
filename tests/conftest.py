import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Heap cap of every test JVM: the session's and those of the daemons the
# multi-process tests start (they inherit this environment). get_spark's
# 16g default lets the session JVM alone grow past 7 GB over the suite,
# which a 16 GB host running those daemons beside it cannot hold.
os.environ.setdefault("SPARK_DRIVER_MEM", "3g")


@pytest.fixture(scope="session")
def spark():
    from scylla_cdc_java_spark.session import get_spark

    s = get_spark(app="cdc-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cdc"))
