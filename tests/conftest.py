import threading
import uuid

import pytest
from pyspark.sql import SparkSession

from pr2_transformation_spark.streaming.protoshim import prepare_env


@pytest.fixture(scope="session")
def spark():
    # before the JVM starts: PYTHONPATH must carry the miniproto shim so
    # the TWS driver worker (which inherits only the JVM env) imports
    # google.protobuf where the real package is absent
    prepare_env()
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pr2-transformation-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """``py4j_calls(fn, *args, **kwargs)`` runs ``fn`` and returns how many
    commands its thread sent to the JVM meanwhile (every Py4J round trip
    goes through the gateway client's ``send_command``).  Commands from
    other threads, such as Py4J's finalizer releasing earlier garbage, are
    not counted.  The method is restored when the test ends."""
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    sent = {}

    def counting(self, *args, **kwargs):
        thread = threading.get_ident()
        sent[thread] = sent.get(thread, 0) + 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def measure(fn, *args, **kwargs):
        thread = threading.get_ident()
        before = sent.get(thread, 0)
        fn(*args, **kwargs)
        return sent.get(thread, 0) - before

    return measure


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn, *args, **kwargs)`` runs ``fn`` under a job group
    of its own and returns how many Spark jobs it submitted."""
    sc = spark.sparkContext

    def measure(fn, *args, **kwargs):
        # the tracker keeps a group's jobs for the whole session: a
        # fresh name per call counts only this call's
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return measure
