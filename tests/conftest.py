import os
import threading
import uuid

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running end-to-end run (example scripts, multi-job pipelines)")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="pipelines-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    out = {}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.createOrReplaceTempView(t)
        out[t] = df
    return out


def jobs_started(spark, work) -> list[int]:
    """Run ``work`` in its own thread under a fresh job group; the ids
    of the Spark jobs it started."""
    group = f"jobs-started-{uuid.uuid4().hex}"
    errors = []

    def target():
        spark.sparkContext.setJobGroup(group, "job count pin")
        try:
            work()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    th = threading.Thread(target=target)
    th.start()
    th.join()
    if errors:
        raise errors[0]
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
