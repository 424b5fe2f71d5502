import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from transformers_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="transformers-spark-tests",
        warehouse_dir=warehouse,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Unpersist operator-persisted intermediates after each test so
    cached gram/vocab frames don't accumulate executor memory across
    the ~90-query oracle parametrization (one shared session)."""
    yield
    from transformers_spark import cache

    cache.release()
