import os
import sys
import uuid

import py4j.clientserver
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session default heap (24g) does not fit a 16 GB host next to the
# Python workers; an explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from ocr_automation_system_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def corpus_path(tmp_path_factory):
    """Small deterministic synthetic corpus written once per test session."""
    from ocr_automation_system_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "documents.parquet")
    write_corpus(path, n_rows=300, seed=42)
    return path


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(run)``: the Spark jobs launched by ``run()``, counted
    under a job group."""
    def count(run):
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture(scope="session")
def py4j_calls():
    """``py4j_calls(run)``: the py4j round trips ``run()`` makes from the
    driver to the JVM — the cost of building a plan, not of running it."""
    client = py4j.clientserver.JavaClient

    def count(run):
        send, calls = client.send_command, [0]

        def counting(self, *args, **kwargs):
            calls[0] += 1
            return send(self, *args, **kwargs)

        client.send_command = counting
        try:
            run()
        finally:
            client.send_command = send
        return calls[0]
    return count
