import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("candidategeneration-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_sf001(spark):
    return spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")


class Py4jCalls:
    """Counts py4j round trips (commands sent to the gateway JVM) made
    inside ``with counter:`` blocks; ``counter.n`` is the last block's."""

    def __init__(self):
        self.n = 0
        self._on = False

    def __enter__(self):
        import gc
        gc.collect()  # proxies dropped earlier send their deletes now
        self.n, self._on = 0, True
        return self

    def __exit__(self, *exc):
        self._on = False

    def count(self, send):
        def wrapped(conn, command, *args, **kwargs):
            if self._on:
                self.n += 1
            return send(conn, command, *args, **kwargs)
        return wrapped


@pytest.fixture
def py4j_calls(monkeypatch):
    from py4j import clientserver, java_gateway
    counter = Py4jCalls()
    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        monkeypatch.setattr(cls, "send_command", counter.count(cls.send_command))
    return counter
