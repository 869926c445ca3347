import os

import pytest

from threat_intelligence_knowledge_graph_spark.session import build_session

# A fixed test driver heap: Spark's own default is too small for the
# suite, and an unbounded one can outgrow the host. 8g holds the largest
# test broadcast (test_enrich's all-matches join, which fails at 4g).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tikg-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()
