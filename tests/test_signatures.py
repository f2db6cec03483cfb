"""Signature kernel: MinHash accuracy, Spark kernel == Python kernel,
content-defined gram sampling containment property, suffix array."""

from __future__ import annotations

import numpy as np
import pytest

from transcript_dedup.config import DedupConfig
from transcript_dedup.normalize import shingles_py
from transcript_dedup.signatures import (
    est_jaccard,
    minhash_params,
    minhash_signature,
    sampled_gram_hashes,
    shingle_hashes,
    simhash64,
)
from transcript_dedup.suffix_array import build_suffix_array, sa_contains


def _doc(rng, n=200):
    return " ".join(f"w{rng.integers(0, 500)}" for _ in range(n))


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(7)
    cfg = DedupConfig()
    a, b = minhash_params(cfg)
    base = _doc(rng).split(" ")
    other = list(base)
    for i in rng.integers(0, len(other), size=40):
        other[i] = f"w{rng.integers(500, 999)}"
    d1, d2 = " ".join(base), " ".join(other)
    s1, s2 = shingles_py(d1, cfg.shingle_k), shingles_py(d2, cfg.shingle_k)
    true_j = len(s1 & s2) / len(s1 | s2)
    sig1 = minhash_signature(shingle_hashes(d1, cfg.shingle_k), a, b)
    sig2 = minhash_signature(shingle_hashes(d2, cfg.shingle_k), a, b)
    assert abs(est_jaccard(sig1, sig2) - true_j) < 0.15
    assert est_jaccard(sig1, sig1) == 1.0


def test_signature_determinism():
    cfg = DedupConfig()
    a, b = minhash_params(cfg)
    sig1 = minhash_signature(shingle_hashes("alpha beta gamma delta epsilon zeta", 5), a, b)
    sig2 = minhash_signature(shingle_hashes("alpha beta gamma delta epsilon zeta", 5), a, b)
    assert (sig1 == sig2).all()
    assert simhash64("x y z") == simhash64("x y z")
    assert simhash64("x y z") != simhash64("x y w")


def test_simhash_near_small_hamming():
    rng = np.random.default_rng(11)
    d = _doc(rng, 300)
    toks = d.split(" ")
    toks[5] = "CHANGED"
    d2 = " ".join(toks)
    ham = bin(int(simhash64(d)) ^ int(simhash64(d2))).count("1")
    assert ham <= 6


def test_spark_kernel_matches_python(spark, cfg):
    """The mapInPandas kernel output equals direct Python kernel calls —
    the bit-identical-signatures contract the oracle relies on."""
    import pandas as pd

    from transcript_dedup.signatures import add_signatures, compute_signature_row

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "the quick brown fox jumps over the lazy dog again and again",
        "",
        "short",
    ]
    df = spark.createDataFrame(pd.DataFrame({"conv_id": [str(i) for i in range(len(texts))], "norm_text": texts}))
    got = {r["conv_id"]: r for r in add_signatures(df, cfg).collect()}
    a, b = minhash_params(cfg)
    for i, t in enumerate(texts):
        sig, sim, ns, grams = compute_signature_row(t, cfg, a, b)
        r = got[str(i)]
        assert r["minhash"] == sig
        assert r["simhash"] == sim
        assert r["n_shingles"] == ns
        assert sorted(r["sub_grams"]) == sorted(grams)


def test_gram_sampling_containment_property():
    """If A is a substring of B, sampled grams of A ⊆ sampled grams of B."""
    rng = np.random.default_rng(13)
    cfg = DedupConfig()
    inner = _doc(rng, 120)
    outer = _doc(rng, 60) + " " + inner + " " + _doc(rng, 60)
    gi = set(sampled_gram_hashes(inner, cfg.substring_gram_k, cfg.substring_mod).tolist())
    go = set(sampled_gram_hashes(outer, cfg.substring_gram_k, cfg.substring_mod).tolist())
    assert gi and gi <= go


def test_probe_gram_matches_brute_force(monkeypatch):
    """The concatenated-chunk + bitmap-prefilter probe finds exactly the
    (doc, pattern) matches of a per-doc brute force — including across
    chunk boundaries (chunk size pinned tiny so several docs span chunks),
    with boundary-crossing windows excluded and duplicates deduped."""
    from transcript_dedup import signatures as S
    from transcript_dedup.signatures import (
        build_pattern_bitmap,
        probe_gram_matches,
        raw_gram_hashes,
    )

    rng = np.random.default_rng(7)
    k = 24
    docs = [_doc(rng, n) for n in (5, 40, 3, 120, 80, 1, 0, 200, 60)]
    docs[4] = docs[1][: k + 6]  # planted containment
    docs[7] = docs[3] + " " + docs[5]
    pats = []
    for d in docs:
        gh = raw_gram_hashes(d, k)
        if gh.size:
            pats.append(int(gh.view(np.int64).min()))
    pat_arr = np.unique(np.array(pats, dtype=np.int64))
    monkeypatch.setattr(S, "_PROBE_CHUNK", 128)  # force multi-chunk paths
    idx, gh = probe_gram_matches(docs, k, pat_arr, build_pattern_bitmap(pat_arr))
    got = set(zip(idx.tolist(), gh.tolist()))
    ps = set(pat_arr.tolist())
    want = {
        (i, v)
        for i, d in enumerate(docs)
        for v in set(raw_gram_hashes(d, k).view(np.int64).tolist()) & ps
    }
    assert got == want and len(idx) == len(got)  # exact + deduped


def test_raw_gram_containment_property():
    """T substring of O => every raw gram of T (incl. the min pattern) is a
    raw gram of O — the tiny-path recall guarantee."""
    rng = np.random.default_rng(17)
    from transcript_dedup.signatures import raw_gram_hashes

    k = DedupConfig().substring_gram_k
    inner = _doc(rng, 30)
    outer = _doc(rng, 10) + " " + inner + " " + _doc(rng, 10)
    gi = set(raw_gram_hashes(inner, k).view(np.int64).tolist())
    go = set(raw_gram_hashes(outer, k).view(np.int64).tolist())
    assert gi and gi <= go


@pytest.mark.parametrize("s", [b"banana", b"mississippi", b"abcabcabc", b"a", b""])
def test_suffix_array_sorted(s):
    sa = build_suffix_array(s)
    assert len(sa) == len(s)
    suffixes = [s[i:] for i in sa]
    assert suffixes == sorted(s[i:] for i in range(len(s)))


def test_sa_contains():
    rng = np.random.default_rng(17)
    data = _doc(rng, 500).encode()
    sa = build_suffix_array(data)
    for _ in range(50):
        i = rng.integers(0, len(data) - 30)
        m = rng.integers(1, 30)
        assert sa_contains(data, sa, bytes(data[i : i + m]))
    assert not sa_contains(data, sa, b"ZZZ@@@notinthere")
    assert sa_contains(data, sa, b"")
