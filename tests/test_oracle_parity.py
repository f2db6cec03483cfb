"""Value-level parity gates for the two queries the driver cannot fully
oracle in SQL.

1. ``transcript_decisions`` — the full pipeline's decisions on the generated
   corpus, value-hashed against the pure-Python reference oracle
   (oracle.oracle_decisions: all-pairs scoring + closure + rule cascade,
   the auto-decider parity layer, /root/reference/src/auto-decider.ts).
2. ``doc_dedup_components`` — the flagship's cluster ids vs the DuckDB
   recursive-CTE transitive closure used by __spark_entry__.oracle_sql();
   also asserts the premise the SQL oracle rests on: the engine's fuzzy arm
   contributes no cross-component edge beyond the SQL-expressible exact +
   substring arms on the driver testdata.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from transcript_dedup.oracle import oracle_decisions
from transcript_dedup.pipeline import run_dedup_dataframes
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures

SF_01 = "/root/testdata/sf0.01"


def _decision_hash(rows: list[tuple]) -> str:
    canon = sorted("\x1f".join(map(str, r)) for r in rows)
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


def test_transcript_decisions_match_python_oracle(spark, cfg, corpus200, turns200):
    conv = add_signatures(reconstruct_conversations(turns200), cfg)
    res = run_dedup_dataframes(conv, cfg)
    got = [
        (
            r["group_id"],
            ",".join(r["keep"]),
            ",".join(r["delete"]),
            r["rule_applied"],
            r["decision_type"],
            int(r["min_confidence"]),
            int(r["size"]),
        )
        for r in res["decisions"].collect()
    ]
    want = [
        (
            d["group_id"],
            ",".join(d["keep"]),
            ",".join(d["delete"]),
            d["rule_applied"],
            d["decision_type"],
            int(d["min_confidence"]),
            int(d["size"]),
        )
        for d in oracle_decisions(corpus200[0], cfg)
    ]
    assert len(got) == len(want)
    gs, ws = sorted(got), sorted(want)
    for g, w in zip(gs, ws):
        assert g == w, (g, w)
    assert _decision_hash(got) == _decision_hash(want)


@pytest.mark.skipif(not os.path.isdir(SF_01), reason="driver testdata absent")
def test_components_sql_oracle_parity(spark):
    import duckdb

    import __spark_entry__ as E

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in E._q_doc_dedup_components(spark, SF_01).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_01}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(E._COMPONENTS_ORACLE).fetchall()}
    assert got == want


def test_sig_export_path_keys_on_signature_fields_only(monkeypatch):
    """The transcript_decisions oracle SQL embeds the signature-export path,
    so a config field the export does not depend on (added, removed or
    re-defaulted) must not move it; a signature field or the kernel version
    must. Signatures are always 64-bit, and the path hashes that as a
    constant so it stays where it was when the width was a config field."""
    import dataclasses
    import functools

    import __spark_entry__ as E
    from transcript_dedup import config, signatures

    base = E._sigs_parquet_path()
    assert base.endswith("033926c5510a.parquet"), base
    cls = config.DedupConfig
    extra = dataclasses.make_dataclass(
        "ExtraConfig", [("future_knob", int, 7)], bases=(cls,), frozen=True
    )
    for variant in (extra, functools.partial(cls, jaccard_threshold=0.9, cc_max_iters=3)):
        monkeypatch.setattr(config, "DedupConfig", variant)
        assert E._sigs_parquet_path() == base
    for field, value in (("shingle_k", 4), ("minhash_seed", 1)):
        monkeypatch.setattr(config, "DedupConfig", functools.partial(cls, **{field: value}))
        assert E._sigs_parquet_path() != base, field
    monkeypatch.setattr(config, "DedupConfig", cls)
    monkeypatch.setattr(signatures, "KERNEL_VERSION", "other-kernel")
    assert E._sigs_parquet_path() != base
