"""DuckDB oracle parity for the driver queries that run the dedup engine
through its batch entry points: each query's result must hash-match its
``oracle_sql()`` entry, with the same order-insensitive value hash the
driver simulation uses (tools/driver_sim.value_hash).

``transcript_decisions_es`` builds its own corpus export; the documents
query needs the sf0.001 driver testdata and is skipped without it.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

SF_0001 = "/root/testdata/sf0.001"
SF_001 = "/root/testdata/sf0.01"
#: sha256 of json.dumps(oracle_sql(), sort_keys=True), see the last test
ORACLE_TEXT_SHA256 = "42838c28a64f94d6a9531ba1661d9f5038e800d4fb9e731fea7cd639f0fb47c5"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _value_hash():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(TOOLS, "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


@pytest.mark.parametrize(
    "name",
    [
        "transcript_decisions_es",
        pytest.param(
            "doc_substring_pairs",
            marks=pytest.mark.skipif(
                not os.path.isdir(SF_0001), reason="driver testdata absent"
            ),
        ),
    ],
)
def test_driver_query_matches_duckdb_oracle(spark, name):
    import duckdb

    import __spark_entry__ as E

    got = E.queries()[name](spark, SF_0001).toPandas()
    con = duckdb.connect()
    if os.path.isdir(SF_0001):
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_0001}/documents.parquet')"
        )
    want = con.execute(E.oracle_sql()[name]).df()
    assert len(got) > 0
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    value_hash = _value_hash()
    assert value_hash(got) == value_hash(want)


@pytest.mark.skipif(not os.path.isdir(SF_001), reason="driver testdata absent")
def test_oracle_text_changes_only_on_purpose():
    """The whole oracle text, pinned by digest. A run whose oracle text
    differs is graded as a changed harness (``harness_changed``), so the
    digest moves only with a change declared in CHANGES.md (the ROADMAP
    guardrail on the oracle SQL); update ORACLE_TEXT_SHA256 in that change.

    Export paths are part of the text. ``_sigs_parquet_path`` keys on the
    signature config fields and ``KERNEL_VERSION``. ``_mm_export_paths``
    hashes the bytes of transcript_dedup/multimodal.py, so ANY edit to that
    file, even to a comment, moves the ``doc_multimodal_features`` oracle.
    The IVF export reads the sf0.01 embeddings, hence the skip."""
    import hashlib
    import json

    import __spark_entry__ as E

    text = json.dumps(E.oracle_sql(), sort_keys=True)
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_TEXT_SHA256
