import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("lucene_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    from lucene_spark.fixtures import generate_transcripts

    return generate_transcripts(n_convs=20, seed=1337)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    df = transcripts_df(spark, rows=tiny_corpus)
    return IndexBuilder(num_segments=4).build(df)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_corpus):
    from lucene_spark.oracle import OracleIndex

    return OracleIndex.build(tiny_corpus)


class Py4jCalls:
    """Running count of Python -> JVM py4j round trips."""

    def __init__(self):
        self.n = 0


@pytest.fixture
def py4j_calls():
    """Count py4j round trips by wrapping the connections' ``send_command``
    for the duration of one test; read ``.n`` before and after the code
    under measurement."""
    from py4j import clientserver, java_gateway

    counter = Py4jCalls()
    saved = []
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.send_command

        def send_command(conn, *a, _orig=orig, **kw):
            counter.n += 1
            return _orig(conn, *a, **kw)

        saved.append((cls, orig))
        cls.send_command = send_command
    try:
        yield counter
    finally:
        for cls, orig in saved:
            cls.send_command = orig
