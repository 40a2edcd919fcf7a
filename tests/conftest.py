import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from nyxus_spark.session import get_spark

    # Every AQE stage update renders the whole plan to a string for the SQL
    # listener; for the widest gate queries (text_stats reads one persisted
    # frame hundreds of times, and each read prints the cached plan again)
    # that string alone exhausts an 8 GB JVM heap, and the dying serve
    # thread leaves toPandas waiting forever. Cap the rendered plan at 1 MB
    # (the plans tests inspect are a few KB) and keep fewer finished
    # executions in the listener so their plans do not pile up across the
    # session. Neither setting changes a query result.
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
