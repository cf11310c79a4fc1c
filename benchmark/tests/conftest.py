import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark():
    """A small session with the engine importable by its Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from rsgislib_spark.session import get_spark

    spark = get_spark(app="benchmark_tests", master="local[2]",
                      shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
