"""Property-based tests (SURVEY.md 5.2(4)) — hypothesis over the kernel and
normalizer, plus invariant properties of the clustering."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from transcript_dedup.config import DedupConfig
from transcript_dedup.normalize import normalize_text_py, shingles_py
from transcript_dedup.oracle import closure_pair_set, transitive_closure
from transcript_dedup.signatures import (
    compute_signature_row,
    est_jaccard,
    minhash_params,
    minhash_signature,
    sampled_gram_hashes,
    shingle_hashes,
    simhash64,
)

_CFG = DedupConfig()
_A, _B = minhash_params(_CFG)

text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=400
)
tokens_st = st.lists(
    st.text(alphabet=st.sampled_from("abcdefgh"), min_size=1, max_size=6),
    min_size=0,
    max_size=120,
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_normalizer_idempotent_and_clean(s):
    n = normalize_text_py(s)
    assert normalize_text_py(n) == n
    assert "  " not in n and n == n.strip() and n == n.lower()


@given(tokens_st)
@settings(max_examples=100, deadline=None)
def test_shingle_hash_count_matches_string_shingles(toks):
    doc = normalize_text_py(" ".join(toks))
    assert len(shingle_hashes(doc, _CFG.shingle_k)) == len(
        shingles_py(doc, _CFG.shingle_k)
    )


@given(tokens_st, tokens_st)
@settings(max_examples=60, deadline=None)
def test_minhash_identity_and_symmetry(ta, tb):
    da, db = normalize_text_py(" ".join(ta)), normalize_text_py(" ".join(tb))
    sa = minhash_signature(shingle_hashes(da, 5), _A, _B)
    sb = minhash_signature(shingle_hashes(db, 5), _A, _B)
    assert est_jaccard(sa, sa) == 1.0
    assert est_jaccard(sa, sb) == est_jaccard(sb, sa)
    if da == db:
        assert est_jaccard(sa, sb) == 1.0


@given(tokens_st, tokens_st, tokens_st)
@settings(max_examples=60, deadline=None)
def test_gram_containment_property(pre, mid, post):
    """Sampled grams of the middle chunk are always a subset of the
    concatenation's sampled grams (the substring detector's guarantee)."""
    inner = normalize_text_py(" ".join(mid))
    outer = normalize_text_py(" ".join(pre + mid + post))
    gi = set(sampled_gram_hashes(inner, _CFG.substring_gram_k, _CFG.substring_mod).tolist())
    go = set(sampled_gram_hashes(outer, _CFG.substring_gram_k, _CFG.substring_mod).tolist())
    if inner and inner in outer:
        assert gi <= go


@given(tokens_st)
@settings(max_examples=60, deadline=None)
def test_kernel_row_deterministic(toks):
    d = normalize_text_py(" ".join(toks))
    r1 = compute_signature_row(d, _CFG, _A, _B)
    r2 = compute_signature_row(d, _CFG, _A, _B)
    assert r1 == r2
    assert simhash64(d) == simhash64(d)


edges_st = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda t: t[0] != t[1]),
    max_size=60,
)


@given(tokens_st)
@settings(max_examples=100, deadline=None)
def test_sub_shingle_docs_have_shingles(toks):
    """n_shingles > 0 <=> normalized text is non-empty — docs with fewer
    than shingle_k tokens get ONE whole-doc shingle (shingle_hashes), so
    the engine's exact-arm gate (n_shingles > 0 on both sides +
    est_jaccard == 1.0) is exactly equivalent to the SQL oracles'
    length(norm) > 0 equality join. Pins ADVICE r3 item 4: sub-shingle
    exact duplicates match in BOTH the engine and the DuckDB oracle."""
    norm = normalize_text_py(" ".join(toks))
    sh = shingle_hashes(norm, _CFG.shingle_k)
    assert (sh.size > 0) == (len(norm) > 0)
    if norm:
        # exact duplicates (any length, incl. sub-shingle): est_jaccard 1.0
        sig = minhash_signature(sh, _A, _B)
        assert est_jaccard(sig, sig) == 1.0


def test_fuzzy_or_gate_fp_budget():
    """False-positive budget of the fuzzy OR gate (VERDICT r3 item 2).

    The gate is band-collision AND (est-Jaccard >= tau OR Hamming <= r).
    OR is deliberate (config.py: SimHash is the alternative verifier), so
    this pins what OR may and may not admit:

      1. independent random docs: ZERO merges — the Hamming disjunct never
         fires for docs with different token bags, and band collision
         plus est-Jaccard filters the rest;
      2. permuted-token docs (identical bag, different order — the exact
         class where Hamming == 0 while shingle Jaccard is low): the gate
         can ONLY fire when an LSH band collides, so the FP rate is
         bounded by the banded collision probability at their true
         shingle Jaccard, measured small here.
    """
    rng = np.random.default_rng(1234)
    from transcript_dedup.signatures import band_tuples

    def doc(n, lo, hi):
        return " ".join(f"w{rng.integers(lo, hi)}" for _ in range(n))

    def feats(text):
        sh = shingle_hashes(text, _CFG.shingle_k)
        sig = minhash_signature(sh, _A, _B)
        bands = set(band_tuples(sig, _CFG.lsh_bands, _CFG.lsh_rows))
        return sig, int(simhash64(text)), bands

    def gate(fa, fb):
        if not (fa[2] & fb[2]):
            return False
        ej = est_jaccard(fa[0], fb[0])
        ham = bin(fa[1] ^ fb[1]).count("1")
        return ej >= _CFG.jaccard_threshold or ham <= _CFG.hamming_radius

    # class 1: independent docs drawn from overlapping vocab — no merges
    fp = sum(
        gate(feats(doc(60, 0, 400)), feats(doc(60, 0, 400))) for _ in range(150)
    )
    assert fp == 0

    # class 2: same token bag, shuffled order (Hamming == 0 by construction)
    collided = merged = 0
    for _ in range(60):
        toks = [f"w{rng.integers(0, 400)}" for _ in range(40)]
        da = " ".join(toks)
        db = " ".join(rng.permutation(toks).tolist())
        if da == db:
            continue
        fa, fb = feats(da), feats(db)
        assert bin(fa[1] ^ fb[1]).count("1") == 0  # order-invariant SimHash
        if fa[2] & fb[2]:
            collided += 1
        if gate(fa, fb):
            merged += 1
    # the gate never fires without a band collision...
    assert merged <= collided
    # ...and banded LSH keeps the admission rate small for low-Jaccard bags
    assert merged <= 6  # <= 10% of 60 shuffled pairs


@given(edges_st)
@settings(max_examples=100, deadline=None)
def test_closure_properties(raw):
    edges = {tuple(sorted((f"n{a:02d}", f"n{b:02d}"))) for a, b in raw}
    comp = transitive_closure(edges)
    # every edge endpoint shares its partner's component
    for a, b in edges:
        assert comp[a] == comp[b]
    # component id is the minimum member
    groups: dict[str, list[str]] = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    for c, members in groups.items():
        assert c == min(members)
    # closure pairs are exactly within-component pairs
    cp = closure_pair_set(comp)
    for a, b in cp:
        assert comp[a] == comp[b]


@given(tokens_st, st.floats(0.0, 0.3))
@settings(max_examples=40, deadline=None)
def test_minhash_estimate_tracks_true_jaccard(toks, rate):
    if len(toks) < 30:
        return
    rng = np.random.default_rng(0)
    other = [
        t if rng.random() > rate else f"sub{rng.integers(0, 99)}" for t in toks
    ]
    da, db = normalize_text_py(" ".join(toks)), normalize_text_py(" ".join(other))
    s1, s2 = shingles_py(da, 5), shingles_py(db, 5)
    if not s1 or not s2:
        return
    tj = len(s1 & s2) / len(s1 | s2)
    ej = est_jaccard(
        minhash_signature(shingle_hashes(da, 5), _A, _B),
        minhash_signature(shingle_hashes(db, 5), _A, _B),
    )
    assert abs(ej - tj) < 0.35  # 126 perms: loose statistical bound
