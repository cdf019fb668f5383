import os
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from needle_spark import get_spark

    s = get_spark(app_name="needle-spark-tests", shuffle_partitions=8)
    # NOTE (r12): a blanket conftest rewrite of createDataFrame(list,
    # schema) through the Arrow/pandas path (JVM-resident local
    # relations, ~0.3 s/action/relation cheaper) was prototyped and
    # REVERTED: Arrow coerces NaN -> null inside vector cells, which
    # silently defeats NaN-validation semantics (test_insert_validation
    # caught it).  Engine-internal hot sites are converted individually
    # instead (sync._record_one, crdt.op_log_df).
    yield s


@pytest.fixture
def spark_jobs(spark):
    """Count the Spark jobs a block starts in the calling thread:

        with spark_jobs() as jobs:
            ...
        assert jobs.n == 0

    The block runs in a fresh job group; on exit the listener bus is
    drained and the group's jobs are counted through statusTracker."""
    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        out = SimpleNamespace(n=None)
        sc.setJobGroup(group, "spark_jobs fixture")
        try:
            yield out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            out.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def py4j_calls(spark):
    """Count the py4j commands the driver sends to the JVM in a block:

        with py4j_calls() as calls:
            ...
        assert calls.n <= 200

    Py4J's memory (garbage-collection) commands are not counted: Python
    frees proxies of objects created before the block at any time."""
    client = spark.sparkContext._gateway._gateway_client

    @contextmanager
    def count():
        out = SimpleNamespace(n=0)
        send = client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith("m\n"):
                out.n += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            yield out
        finally:
            client.send_command = send

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, name, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return load(spark, "embeddings", sf_dir)


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return load(spark, "documents", sf_dir)


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return load(spark, "lineitem", sf_dir)


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return load(spark, "orders", sf_dir)


@pytest.fixture(scope="session")
def products(spark):
    # the reference's 6-row aggregation fixture (sql_analytics.rs:475-484)
    return spark.createDataFrame(
        [
            ("books", 10.0, 4.5),
            ("books", 20.0, 3.0),
            ("books", 15.0, 5.0),
            ("electronics", 100.0, 4.0),
            ("electronics", 200.0, 4.5),
            ("clothing", 30.0, 3.5),
        ],
        "category string, price double, rating double",
    )
