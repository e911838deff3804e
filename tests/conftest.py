import os

import pytest
from py4j.protocol import Py4JError

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

TESTDATA = os.environ["SPARK_GRAFT_SF_DIR"]

_PREVIOUS_TEST = pytest.StashKey[str]()


@pytest.fixture(scope="session")
def spark():
    from pimbloomfilters_spark.session import get_spark

    # local[SPARK_GRAFT_CPUS], or every core when it is unset
    s = get_spark("pbf-tests", shuffle_partitions=8)
    yield s
    try:
        s.stop()
    except (Py4JError, OSError):
        pass  # the JVM is already gone; _spark_gateway_alive names the cause


@pytest.fixture(autouse=True)
def _spark_gateway_alive(request):
    """Ping the session's JVM before each Spark test. Once the JVM is gone
    every later test would fail with the same connection error, so end the
    run here and name the test that ran last and the py4j error."""
    if "spark" in request.fixturenames:
        sc = request.getfixturevalue("spark").sparkContext
        try:
            sc._jsc.sc().isStopped()
        except (Py4JError, OSError) as e:
            previous = request.config.stash.get(_PREVIOUS_TEST, "none")
            pytest.exit(f"Spark JVM is unreachable before {request.node.nodeid}"
                        f" (previous test: {previous}): {e!r}", returncode=3)
    yield
    request.config.stash[_PREVIOUS_TEST] = request.node.nodeid


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA
