from __future__ import annotations

import os

import pytest

from transcript_dedup.config import DedupConfig
from transcript_dedup.generate import generate_corpus
from transcript_dedup.session import get_spark

# the local-mode driver JVM hosts every executor thread; the fixtures are at
# most a few thousand conversations, so cap its heap well below the
# library's cluster-sized default (a 32g heap on a 16 GB machine grows until
# the machine runs out of memory). Subprocess tests inherit the setting.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("transcript-dedup-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(params=["aqe_on", "aqe_off"])
def aqe(spark, request):
    """Runs the test with adaptive execution on and off: AQE moves stage
    boundaries and prunes stages whose consumers come out empty, both of
    which decide where an observed counter's metrics are collected."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true" if request.param == "aqe_on" else "false")
    yield request.param
    spark.conf.set(key, before)


@pytest.fixture(scope="session")
def cfg():
    return DedupConfig()


@pytest.fixture(scope="session")
def corpus200():
    """Deterministic 200-conversation corpus (FIXTURES.md sizes: unit tests)."""
    return generate_corpus(200, seed=42)


@pytest.fixture(scope="session")
def turns200(spark, corpus200):
    from transcript_dedup.generate import corpus_to_spark

    return corpus_to_spark(spark, corpus200[0])
