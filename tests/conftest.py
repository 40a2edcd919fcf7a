import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from nyxus_spark.session import get_spark

    # Every AQE stage update renders the whole plan to a string for the SQL
    # listener, and a cached frame's plan is printed again at each read. A
    # wide gate query that reads one cached frame many times can make that
    # string outgrow an 8 GB JVM heap; the dying serve thread then leaves
    # toPandas waiting forever. No gate needs it today (text_stats passes
    # without the cap), so the cap is a guard: it holds the rendered plan
    # to 1 MB (the plans tests inspect are a few KB). Fewer finished
    # executions in the listener keep their plans from piling up across
    # the session. Neither setting changes a query result.
    s = get_spark(
        "nyxus_spark_tests", cores=8, shuffle_partitions=8,
        extra_conf={
            "spark.sql.maxPlanStringLength": str(1 << 20),
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
