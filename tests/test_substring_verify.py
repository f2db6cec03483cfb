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


#: gram df cap of the stop-gram corpus: the boilerplate below is shared by
#: more docs than this, so its grams are stop-listed
STOP_MAXDF = 5
BOILER = (
    "thank you for contacting support, we have received your request and a member "
    "of our team will get back to you within two business days with an update"
)
RARE = (
    "the quarterly ledger reconciliation for the northern warehouse showed a "
    "discrepancy of forty two crates of copper fittings"
)


@pytest.fixture(scope="module")
def stop_gram_conv(spark, cfg):
    """Documents whose shared boilerplate is stop-listed: 12 outers carry
    the boilerplate plus a unique tail, one inner doc IS the boilerplate
    (every sampled gram stopped: tiny path), and one inner doc with rare
    grams sits inside one outer (gram path). A few unrelated docs pad it."""
    docs = [(1, BOILER), (2, RARE), (3, "prefix words " + RARE + " and a closing remark")]
    docs += [(10 + i, f"{BOILER} ticket number {i:04d} closed by agent {i * 7}") for i in range(12)]
    docs += [(50 + i, f"an unrelated note about topic {i} written on day {i * 3}") for i in range(4)]
    conv = signed_records(
        spark.createDataFrame(docs, "doc_id long, text string"),
        cfg.with_(substring_gram_maxdf=STOP_MAXDF),
    ).persist()
    yield conv, cfg.with_(substring_gram_maxdf=STOP_MAXDF)
    conv.unpersist()


def _substring_paths(conv, cfg) -> tuple[set, set]:
    """(gram-path verified pairs, tiny-path verified pairs), cid-keyed."""
    from transcript_dedup.detectors.substring import _gram_pairs, _tiny_pairs, hydrate_and_verify

    gram_pairs, all_stopped = _gram_pairs(conv, cfg, None, None)
    gram = {tuple(r) for r in hydrate_and_verify(gram_pairs, conv).select("conv_a", "conv_b").collect()}
    tiny = {tuple(r) for r in _tiny_pairs(conv, all_stopped, cfg, None).collect()}
    return gram, tiny


@pytest.mark.parametrize("corpus", ["generated200", "stop_grams"])
def test_gram_and_tiny_paths_are_disjoint(spark, cfg, turns200, stop_gram_conv, corpus):
    """substring_candidates unions the two verified pair sets without a
    distinct: a pair's inner doc either has a kept sampled gram (gram path)
    or none (tiny path), never both, so the sets never share a pair."""
    if corpus == "generated200":
        conv = add_signatures(reconstruct_conversations(turns200), cfg).persist()
    else:
        conv, cfg = stop_gram_conv
    gram, tiny = _substring_paths(conv, cfg)
    assert gram, "vacuous: no gram-path pair"
    if corpus == "stop_grams":
        assert tiny, "vacuous: no tiny-path pair"
    else:
        conv.unpersist()
    assert not gram & tiny


@pytest.fixture
def no_broadcast(spark):
    """Broadcast joins off, so the gram df table is shuffled into its join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, before)


def test_observed_substring_counters(spark, stop_gram_conv, aqe, no_broadcast):
    """substring_stop_grams, observed on the gram df aggregate, equals the
    number of grams over the df cap counted directly, and the tiny-path
    counters equal the fallback docs counted directly — with and without
    the pipeline's cache registry."""
    from pyspark.sql import functions as F

    conv, cfg = stop_gram_conv
    maxdf = cfg.substring_gram_maxdf
    grams = conv.filter("length(norm_text) > 0").select(
        "cid", "norm_text", F.explode("sub_grams").alias("gram")
    )
    df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    stopped = grams.join(df, "gram").groupBy("cid", "norm_text").agg(F.min("df").alias("m"))
    tiny = (
        stopped.filter(f"m > {maxdf}").select("norm_text")
        .unionByName(conv.filter("length(norm_text) > 0 AND size(sub_grams) = 0").select("norm_text"))
        .collect()
    )
    want = {
        "substring_stop_grams": df.filter(f"df > {maxdf}").count(),
        "substring_tiny_docs": len(tiny),
        "substring_tiny_short_docs": sum(len(r["norm_text"]) < cfg.substring_gram_k for r in tiny),
    }
    assert want["substring_stop_grams"] > 0 and want["substring_tiny_docs"] > 0, want
    for registry in (None, []):
        counters: dict = {}
        substring_candidates(conv, cfg, counters, cache_registry=registry).count()
        release_key_caches(registry or [])
        assert {k: int(v) for k, v in counters.items()} == want


def test_tiny_path_overflow_fails_loud(spark, stop_gram_conv):
    """The bounded tiny-path collection holds at most cap+1 docs: exactly
    cap fallback docs run, one more raises instead of dropping recall."""
    conv, cfg = stop_gram_conv
    counters: dict = {}
    substring_candidates(conv, cfg, counters).count()
    n = int(counters["substring_tiny_docs"])
    assert n >= 1
    substring_candidates(conv, cfg.with_(substring_tiny_cap=n)).count()
    with pytest.raises(RuntimeError, match="exceeds cap"):
        substring_candidates(conv, cfg.with_(substring_tiny_cap=n - 1))
