import os
import sys
import pathlib

import pytest
from hypothesis import settings

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Property tests replay the same examples on every run, so a random draw
# cannot decide whether the suite passes.
settings.register_profile("deterministic", derandomize=True, database=None)
settings.load_profile("deterministic")


@pytest.fixture(scope="session")
def spark():
    from proj_spark.session import get_spark

    s = get_spark(app_name="proj-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ["SPARK_GRAFT_SF_DIR"]
