"""Containment-verifier parity: the substring detector (JVM ``instr``
verify on the gram path, in-kernel check on the tiny path) must emit
exactly the brute-force containment pair set, checked pair by pair with
the numpy suffix-array reference (``suffix_array.sa_contains``).

Containment is strict: the inner text is non-empty and strictly shorter
(in characters) than the outer; equal texts are the exact detector's job.
"""

from __future__ import annotations

import pytest

from transcript_dedup.detectors import release_key_caches, substring_candidates
from transcript_dedup.detectors.verify import resolve_pair_ids
from transcript_dedup.documents import signed_records
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures, sampled_gram_hashes
from transcript_dedup.suffix_array import build_suffix_array, sa_contains

GRAMLESS = "zeta gamma eta alpha beta iota"  # 30 chars, no sampled gram
SHORT = "quix zorp blat"  # 14 chars < substring_gram_k


def _fallback_docs(spark):
    """One doc per fallback arm of the detector: a gram-length doc with no
    sampled gram (pattern-probe arm), a sub-gram-length doc (short-needle
    arm), an outer doc containing both, and unrelated filler."""
    outer = (
        "the surrounding conversation went on for quite a while before "
        + GRAMLESS
        + " and then also mentioned "
        + SHORT
        + " in passing near the end of a very long discussion thread"
    )
    filler = [
        "completely unrelated text about sparks and shuffles %d" % i for i in range(5)
    ]
    return spark.createDataFrame(
        [(1, GRAMLESS), (2, SHORT), (3, outer)]
        + [(10 + i, t) for i, t in enumerate(filler)],
        "doc_id long, text string",
    )


def _brute_force_pairs(texts: dict[str, str]) -> set[tuple[str, str]]:
    want = set()
    items = sorted(texts.items())
    for out_id, out_text in items:
        data = out_text.encode("utf-8")
        sa = build_suffix_array(data)
        for in_id, in_text in items:
            if 0 < len(in_text) < len(out_text) and sa_contains(
                data, sa, in_text.encode("utf-8")
            ):
                want.add((min(in_id, out_id), max(in_id, out_id)))
    return want


@pytest.mark.parametrize("corpus", ["generated200", "fallback_docs"])
def test_substring_matches_brute_force_containment(spark, cfg, turns200, corpus):
    if corpus == "generated200":
        conv = add_signatures(reconstruct_conversations(turns200), cfg)
    else:
        assert (
            sampled_gram_hashes(GRAMLESS, cfg.substring_gram_k, cfg.substring_mod).size
            == 0
        )
        assert len(SHORT) < cfg.substring_gram_k
        conv = signed_records(_fallback_docs(spark), cfg)
    conv = conv.persist()
    texts = {r["conv_id"]: r["norm_text"] for r in conv.select("conv_id", "norm_text").collect()}
    counters: dict = {}
    caches: list = []
    got_rows = resolve_pair_ids(
        substring_candidates(conv, cfg, counters, cache_registry=caches), conv
    ).collect()
    release_key_caches(caches)
    conv.unpersist()
    got = [(r["conv_a"], r["conv_b"]) for r in got_rows]
    assert len(got) == len(set(got)), "duplicate containment pairs emitted"
    want = _brute_force_pairs(texts)
    assert want, "vacuous: corpus has no containment pair"
    assert set(got) == want
    if corpus == "fallback_docs":
        assert counters["substring_tiny_docs"] >= 2
        assert counters["substring_tiny_short_docs"] >= 1


def test_substring_rejects_other_verify_modes(cfg):
    with pytest.raises(ValueError, match="instr"):
        substring_candidates(None, cfg, verify_mode="suffix_array")


def test_tiny_cap_fits_the_probe_pattern_index(cfg):
    # the probe holds up to two anchor patterns per tiny doc and indexes
    # them in 24 bits: a cap whose patterns would not fit is refused
    cfg.with_(substring_tiny_cap=(1 << 23) - 1)
    with pytest.raises(ValueError, match="substring_tiny_cap"):
        cfg.with_(substring_tiny_cap=1 << 23)
