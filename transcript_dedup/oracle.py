"""Slow exact Python oracle — reference-parity semantics (SURVEY.md 5.2(1)).

Reimplements the pipeline's match semantics the way the reference computes
duplicates: an all-pairs nested loop over in-memory records
(/root/reference/src/duplicates.ts:19-39) followed by transitive closure
(BFS, /root/reference/src/resolve-conflicts.ts:114-135). Shares the exact
numpy signature kernel (signatures.py) and normalizer twin (normalize.py)
with the Spark pipeline, so at identical shingle/signature config the two
sides compute over bit-identical signatures; the recall >= 0.99 target is
Spark's transitive-closure pair set vs this oracle's.

Gate (graft mapping of artistTitle || filename, duplicates.ts:56-58):
  exact      normalized texts equal (non-empty)
  fuzzy      some LSH band collides AND (est-Jaccard >= tau OR
             SimHash Hamming <= r) — OR by design, see verify.py/config.py
  substring  one normalized text strictly contained in the other
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from .config import DedupConfig
from .normalize import normalize_text_py
from .signatures import (
    band_tuples,
    est_jaccard,
    minhash_params,
    minhash_signature,
    shingle_hashes,
    simhash64,
)


class OracleRecord:
    __slots__ = ("conv_id", "norm_text", "sig", "sim", "bands", "n_shingles")

    def __init__(self, conv_id, norm_text, sig, sim, bands, n_shingles):
        self.conv_id = conv_id
        self.norm_text = norm_text
        self.sig = sig
        self.sim = sim
        self.bands = bands
        self.n_shingles = n_shingles


def build_records(turns_df: pd.DataFrame, cfg: DedupConfig) -> list[OracleRecord]:
    """Reconstruct + normalize + sign every conversation (stable
    (conv_id, turn_idx) ordering — the per-turn invariant)."""
    a, b = minhash_params(cfg)
    recs = []
    for conv_id, g in turns_df.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id", sort=True
    ):
        doc = "\n".join(g["text"].tolist())
        norm = normalize_text_py(doc)
        sh = shingle_hashes(norm, cfg.shingle_k)
        sig = minhash_signature(sh, a, b)
        sim = int(simhash64(norm))
        recs.append(
            OracleRecord(
                conv_id, norm, sig, sim, set(band_tuples(sig, cfg.lsh_bands, cfg.lsh_rows)), sh.size
            )
        )
    return recs


def oracle_pairs(recs: list[OracleRecord], cfg: DedupConfig) -> set[tuple[str, str]]:
    """All-pairs nested loop (duplicates.ts:19-39 analogue)."""
    out: set[tuple[str, str]] = set()
    for i in range(len(recs)):
        ri = recs[i]
        for j in range(i + 1, len(recs)):
            rj = recs[j]
            if ri.n_shingles == 0 or rj.n_shingles == 0:
                continue
            exact = ri.norm_text == rj.norm_text
            fuzzy = False
            if ri.bands & rj.bands:
                ej = est_jaccard(ri.sig, rj.sig)
                ham = bin(ri.sim ^ rj.sim).count("1")
                # band collision AND (est-J >= tau OR Hamming <= r) — SimHash
                # is the alternative verifier (see config.py rationale)
                fuzzy = ej >= cfg.jaccard_threshold or ham <= cfg.hamming_radius
            substr = False
            if not exact:
                s, t = (ri, rj) if len(ri.norm_text) < len(rj.norm_text) else (rj, ri)
                if len(s.norm_text) < len(t.norm_text):
                    substr = s.norm_text in t.norm_text
            if exact or fuzzy or substr:
                pair = tuple(sorted((ri.conv_id, rj.conv_id)))
                out.add(pair)  # type: ignore[arg-type]
    return out


def transitive_closure(pairs: set[tuple[str, str]]) -> dict[str, str]:
    """BFS closure (resolve-conflicts.ts:114-135): node -> component id
    (min member)."""
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    comp: dict[str, str] = {}
    for start in sorted(adj):
        if start in comp:
            continue
        seen = {start}
        stack = [start]
        while stack:
            v = stack.pop()
            for u in adj[v]:
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        label = min(seen)
        for v in seen:
            comp[v] = label
    return comp


def closure_pair_set(comp: dict[str, str]) -> set[tuple[str, str]]:
    groups = defaultdict(list)
    for v, c in comp.items():
        groups[c].append(v)
    out = set()
    for members in groups.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                out.add((members[i], members[j]))
    return out


def recall(spark_pairs: set[tuple[str, str]], oracle: set[tuple[str, str]]) -> float:
    if not oracle:
        return 1.0
    return len(spark_pairs & oracle) / len(oracle)


# ---------------------------------------------------------------------------
# Decisions oracle: pure-Python reimplementation of the verify scoring
# (verify.py) + rule cascade (decide.py) — the auto-decider parity layer
# (/root/reference/src/auto-decider.ts:125-177, :196-202). Used by the
# transcript_decisions value-hash gate (tests/test_oracle_parity.py).
# ---------------------------------------------------------------------------


def _conv_features(turns_df: pd.DataFrame) -> dict[str, dict]:
    feats: dict[str, dict] = {}
    for conv_id, g in turns_df.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id", sort=True
    ):
        texts = g["text"].tolist()
        feats[conv_id] = {
            "total_chars": int(sum(len(t) for t in texts)),
            "completeness": float(
                np.mean([1.0 if t.strip() else 0.0 for t in texts])
            ),
            "first_ts": g["ts"].min(),
            "role_seq": "|".join(g["role"].tolist()),
        }
    return feats


def oracle_decisions(turns_df: pd.DataFrame, cfg: DedupConfig) -> list[dict]:
    """Full-pipeline decisions the slow exact way: all-pairs match flags ->
    per-pair confidence (verify.py weights) -> transitive closure ->
    rule cascade (decide.py order, strict unique winner else fall through).

    Returns one dict per duplicate group, sorted by group_id, with the same
    fields as make_decisions()."""
    recs = build_records(turns_df, cfg)
    feats = _conv_features(turns_df)
    by_id = {r.conv_id: r for r in recs}

    pair_conf: dict[tuple[str, str], int] = {}
    matched: set[tuple[str, str]] = set()
    n = len(recs)
    for i in range(n):
        ri = recs[i]
        for j in range(i + 1, n):
            rj = recs[j]
            if ri.n_shingles == 0 or rj.n_shingles == 0:
                continue
            srcs_lsh = bool(ri.bands & rj.bands)
            m_content = ri.norm_text == rj.norm_text
            ej = est_jaccard(ri.sig, rj.sig)
            ham = bin(ri.sim ^ rj.sim).count("1")
            m_fuzzy = srcs_lsh and (
                ej >= cfg.jaccard_threshold or ham <= cfg.hamming_radius
            )
            s, t = (ri, rj) if len(ri.norm_text) < len(rj.norm_text) else (rj, ri)
            m_substring = (
                len(s.norm_text) < len(t.norm_text) and s.norm_text in t.norm_text
            )
            if not (m_content or m_fuzzy or m_substring):
                continue
            fa, fb = feats[ri.conv_id], feats[rj.conv_id]
            ca, cb = fa["total_chars"], fb["total_chars"]
            m_length = abs(ca - cb) <= max(ca, cb) * cfg.length_tolerance_frac
            m_roles = fa["role_seq"] == fb["role_seq"]
            conf = (
                int(m_content) * cfg.w_exact
                + int(m_fuzzy) * cfg.w_fuzzy
                + int(m_substring) * cfg.w_fuzzy
                + int(m_length) * cfg.w_length
                + int(m_roles) * cfg.w_meta
            )
            pair = tuple(sorted((ri.conv_id, rj.conv_id)))
            matched.add(pair)  # type: ignore[arg-type]
            pair_conf[pair] = conf  # type: ignore[index]

    comp = transitive_closure(matched)
    groups = defaultdict(list)
    for v, c in comp.items():
        groups[c].append(v)

    min_conf: dict[str, int] = {}
    for (a, b), conf in pair_conf.items():
        c = comp[a]
        min_conf[c] = min(min_conf.get(c, 1 << 30), conf)

    out = []
    for gid in sorted(groups):
        members = sorted(groups[gid])
        fs = [feats[m] for m in members]

        def winners(key, reverse):
            vals = [f[key] for f in fs]
            best = max(vals) if reverse else min(vals)
            idx = [k for k, v in enumerate(vals) if v == best]
            return idx

        for rule, key, reverse in (
            ("keep-most-complete", "completeness", True),
            ("keep-longest", "total_chars", True),
            ("keep-earliest", "first_ts", False),
        ):
            idx = winners(key, reverse)
            if len(idx) == 1:
                keep_i, rule_applied = idx[0], rule
                break
        else:
            keep_i, rule_applied = 0, "keep-first-id"  # members sorted
        keep = [members[keep_i]]
        delete = [m for k, m in enumerate(members) if k != keep_i]
        mc = min_conf.get(gid, 0)
        out.append(
            {
                "group_id": gid,
                "keep": keep,
                "delete": delete,
                "rule_applied": rule_applied,
                "decision_type": "auto" if mc >= cfg.confidence_threshold else "needs_review",
                "min_confidence": mc,
                "size": len(members),
            }
        )
    # by_id kept for debuggability of mismatches
    assert by_id
    return out
