import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from golem_spark.session import get_spark

    s = get_spark("golem_spark_tests", shuffle_partitions=8)
    yield s


# O48 randomProblem lives in the package; re-exported here for tests
from golem_spark.data import random_problem  # noqa: E402,F401
