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


@pytest.fixture(scope="session")
def skewed_turns():
    """800 conversations as turns, with the config that makes them skewed:
    600 share one heavy template with a single unique trailing sentence
    (hot bands, NOT duplicates of each other); 100 exact copies of one doc
    (legit mega-cluster); 100 unique. With band_key_cap=20 and
    band_key_drop=200 the template's band keys are stop-bands."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(99)
    template = " ".join(f"boiler{i:03d}" for i in range(120))
    ts = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(600):
        uniq = " ".join(f"u{i:04d}x{j}" for j in range(8))
        rows.append((f"t{i:05d}", 0, "user", template + " " + uniq, "", ts))
    mega = " ".join(f"mega{j:03d}" for j in range(80))
    for i in range(100):
        rows.append((f"m{i:05d}", 0, "user", mega, "", ts))
    for i in range(100):
        text = " ".join(f"s{i:04d}w{rng.integers(0, 9999)}" for _ in range(60))
        rows.append((f"s{i:05d}", 0, "user", text, "", ts))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})
    return pdf, DedupConfig().with_(band_key_cap=20, band_key_drop=200)
