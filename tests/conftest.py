import shutil
import tempfile
import uuid

import pytest

from splade_easy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn) -> (n_jobs, fn())``: the Spark jobs a call starts.

    The call runs in a job group of its own; once it returns, the listener
    bus is drained so the status tracker holds every job of the group
    (broadcast jobs started from Spark's own threads inherit the group)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture()
def tmp_index(tmp_path):
    d = tmp_path / "index"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)
