import os
import sys

import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ohsome_planet_spark.session import get_spark  # noqa: E402

# where test_scale_smoke recorded its curve this run (printed at the end)
SCALE_SMOKE_RECORD = pytest.StashKey[object]()


def check_jvm_alive(spark) -> None:
    """Stop the whole run when the Spark JVM is gone (e.g. OOM-killed):
    every later test would otherwise fail on its own connection error."""
    try:
        stopped = spark._jsc.sc().isStopped()
    except (Py4JError, ConnectionError) as e:
        pytest.exit(f"Spark JVM died: {type(e).__name__}: {e}", returncode=3)
    if stopped:
        pytest.exit("Spark JVM died: the SparkContext is stopped", returncode=3)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ohsome_planet_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _jvm_alive(request):
    """Checked before every test that uses the shared session."""
    if "spark" in request.fixturenames:
        check_jvm_alive(request.getfixturevalue("spark"))


def pytest_terminal_summary(terminalreporter, config):
    path = config.stash.get(SCALE_SMOKE_RECORD, None)
    if path is not None and path.exists():
        terminalreporter.write_line(f"scale-smoke curve recorded in {path}")
