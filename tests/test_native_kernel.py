"""Native (C) signature kernel == numpy per-row kernel, bit for bit.

The round-8 native kernel (_sigkernel.c, compiled on demand by
signatures._native_lib) must produce exactly the values of
compute_signature_row for every doc — minhash, simhash, n_shingles, and the
sorted sampled-gram list — across edge cases (empty, single-char, double
spaces, multi-byte UTF-8, embedded NUL, <k tokens, <gram_k bytes) and a
randomized corpus, under both the default config and non-default
shingle/gram settings. TD_NATIVE_KERNEL=require makes a compile or
parity-probe failure an error instead of a silent numpy fallback, proving
the native path is the one being exercised.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from transcript_dedup.config import DedupConfig
from transcript_dedup import signatures as S

EDGE_DOCS = [
    "",
    " ",
    "  ",
    "a",
    "a ",
    " a",
    "a b",
    "double  space kept as empty token",
    "héllo wörld ☃ multi byte utf8 ünïcode",
    "nul\x00byte inside token",
    "x" * 23,              # below substring_gram_k
    "x" * 24,              # exactly substring_gram_k
    "tok " * 3,            # fewer tokens than shingle_k -> whole-doc shingle
    "many tokens " * 300,  # long repetitive doc, heavy duplicate shingles
]


def _rand_docs(n=400, seed=99):
    rng = np.random.default_rng(seed)
    docs = []
    for _ in range(n):
        toks = [f"w{rng.integers(0, 800)}" for _ in range(int(rng.integers(0, 260)))]
        docs.append(" ".join(toks))
    return docs


def _native_or_skip():
    lib = S._native_lib()
    if lib is None:
        pytest.skip("native kernel unavailable (no gcc?) — numpy fallback covers")
    return lib


@pytest.mark.parametrize(
    "cfg",
    [
        DedupConfig(),
        DedupConfig(shingle_k=3, substring_gram_k=8, substring_mod=16),
        DedupConfig(substring_gram_k=6, substring_mod=10),  # non-pow2 mod branch
    ],
    ids=["default", "small-grams", "mod10"],
)
def test_native_matches_numpy(cfg):
    lib = _native_or_skip()
    docs = EDGE_DOCS + _rand_docs()
    a, b = S.minhash_params(cfg)
    sigs, sims, nshs, grams = S._native_batch(docs, cfg, a, b, lib)
    for i, t in enumerate(docs):
        ref = S.compute_signature_row(t, cfg, a, b)
        got = (sigs[i].tolist(), sims[i], nshs[i], grams[i].tolist())
        assert got == ref, f"doc {i}: {t[:50]!r}"


def test_native_gram_buffer_regrow():
    """The retry path when the initial gram buffer estimate is too small."""
    lib = _native_or_skip()
    cfg = DedupConfig(substring_gram_k=4, substring_mod=2)  # ~half of windows sampled
    docs = ["abcdefgh ijklmnop qrstuvwx " * 50] * 8
    a, b = S.minhash_params(cfg)
    sigs, sims, nshs, grams = S._native_batch(docs, cfg, a, b, lib)
    for i, t in enumerate(docs):
        ref = S.compute_signature_row(t, cfg, a, b)
        assert (sigs[i].tolist(), sims[i], nshs[i], grams[i].tolist()) == ref


def test_require_mode_loads():
    """On this box the native kernel must actually compile and pass its
    load-time parity probe (the bench numbers depend on it)."""
    prev, S._NATIVE_LIB = S._NATIVE_LIB, None
    os.environ["TD_NATIVE_KERNEL"] = "require"
    try:
        assert S._native_lib() is not None
    finally:
        os.environ.pop("TD_NATIVE_KERNEL", None)
        S._NATIVE_LIB = prev


def test_disable_env_falls_back():
    prev, S._NATIVE_LIB = S._NATIVE_LIB, None
    os.environ["TD_NATIVE_KERNEL"] = "0"
    try:
        assert S._native_lib() is None
    finally:
        os.environ.pop("TD_NATIVE_KERNEL", None)
        S._NATIVE_LIB = prev


def test_native_probe_matches_numpy():
    """td_probe_batch == probe_gram_matches, exactly — identical (idx, gh)
    arrays over edge-case docs (sub-gram short, empty, multi-byte UTF-8,
    duplicated pattern occurrences, shared patterns across docs) with
    patterns drawn from the docs' own raw grams plus non-matching values."""
    lib = _native_or_skip()
    rng = np.random.default_rng(11)
    k = 24
    base = _rand_docs(60, seed=12)
    docs = [
        "",
        "short",
        "x" * (k - 1),
        "x" * k,
        "héllo wörld ☃ ünïcode beyond the gram width here padded out",
    ] + base
    docs.append(base[0])                      # duplicate doc
    docs.append(base[1] + " " + base[1])      # repeated patterns inside one doc
    pats = []
    for d in docs[::3]:
        gh = S.raw_gram_hashes(d, k).view(np.int64)
        if gh.size:
            pats.extend([int(gh[0]), int(gh[-1]), int(gh[gh.size // 2])])
    pats.extend(int(v) for v in rng.integers(-2**63, 2**63, 50, dtype=np.int64))
    pat_arr = np.unique(np.array(pats, dtype=np.int64))
    bm = S.build_pattern_bitmap(pat_arr)
    ri, rg = S.probe_gram_matches(docs, k, pat_arr, bm)
    ni, ng = S._probe_native(docs, k, pat_arr, bm, lib)
    assert ri.tolist() == ni.tolist()
    assert rg.tolist() == ng.tolist()
    assert ri.size > 0  # the fixture must actually exercise matches


def test_native_probe_cap_regrow():
    """More matches than the initial output cap -> the retry path returns
    the complete, identical match set."""
    lib = _native_or_skip()
    k = 8
    doc = "abcdefgh " * 2000  # one pattern matched thousands of times pre-dedup
    docs = [doc, doc, "abcdefgh"]
    gh = S.raw_gram_hashes(doc, k).view(np.int64)
    pat_arr = np.unique(gh[:5000])
    bm = S.build_pattern_bitmap(pat_arr)
    ri, rg = S.probe_gram_matches(docs, k, pat_arr, bm)
    ni, ng = S._probe_native(docs, k, pat_arr, bm, lib)
    assert ri.tolist() == ni.tolist() and rg.tolist() == ng.tolist()
