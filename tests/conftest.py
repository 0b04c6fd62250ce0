import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# property tests draw the same examples on every run: a new random draw must
# not be able to turn the suite red (loaded before the test modules import,
# so every @settings decorator inherits it)
settings.register_profile("deterministic", derandomize=True, database=None)
settings.load_profile("deterministic")


@pytest.fixture(scope="session")
def spark():
    from geo_spark.session import get_spark

    # a small pinned heap: the suite's inputs are tiny, and the pre-touched
    # heap is resident for the whole session
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    s = get_spark(app_name="geo_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def route_budget(monkeypatch):
    """Set small-side route budgets for one test: ``route_budget(route, n)``.

    A budget of 0 sends the route down its distributed path, whatever the
    input size; the table is restored after the test."""
    from geo_spark.operators.route import BUDGETS

    def set_budget(route: str, n: int) -> None:
        assert route in BUDGETS, route
        monkeypatch.setitem(BUDGETS, route, n)

    return set_budget


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
