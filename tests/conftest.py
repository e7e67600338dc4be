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
def py4j_calls(spark):
    """``py4j_calls(fn) -> (n_commands, fn())``: the py4j commands the
    driver sends to the JVM while ``fn`` runs.  Meant for building a frame,
    not collecting it: a collect adds the commands of its own execution.
    Releases of garbage-collected JVM references (py4j's memory commands)
    are not counted: they follow Python's collector, not the call."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def run(fn):
        n = 0

        def counting(command, *args, **kwargs):
            nonlocal n
            n += not command.startswith("m\n")
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            del client.send_command  # back to the class's method
        return n, out

    return run


@pytest.fixture()
def tmp_index(tmp_path):
    d = tmp_path / "index"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)
