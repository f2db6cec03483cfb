"""Output checks: planted-truth recall, cross-family merges, and decision
digests that must repeat for one seed."""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import pandas as pd


def _pairs(groups: pd.DataFrame, key: str) -> set[tuple[str, str]]:
    """All unordered conv_id pairs that share ``key``."""
    out = set()
    for ids in groups.groupby(key).conv_id.agg(sorted):
        out.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return out


def truth_scores(components: pd.DataFrame, truth: pd.DataFrame) -> tuple[float, int]:
    """(dup_pair_recall, false_merge_pairs) of ``components`` (conv_id,
    component_id) against the generator's truth sidecar.

    Recall is over planted within-family pairs; a false merge is a pair in
    one component whose conversations come from different families."""
    planted = _pairs(truth, "truth_cluster_id")
    found = _pairs(components, "component_id")
    family = dict(zip(truth.conv_id, truth.truth_cluster_id))
    false_merges = sum(family[a] != family[b] for a, b in found)
    recall = len(planted & found) / len(planted) if planted else 1.0
    return recall, false_merges


def decisions_digest(decisions: pd.DataFrame) -> str:
    """sha256 over the decision rows in a canonical order."""
    rows = sorted(
        json.dumps({k: _plain(v) for k, v in r.items()}, sort_keys=True)
        for r in decisions.to_dict("records")
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _plain(v):
    if hasattr(v, "tolist"):
        return v.tolist()
    if isinstance(v, float) and v != v:
        return None
    return v


class DigestStore:
    """Digests by (workload, seed, size), kept across benchmark runs in one
    checkout: a later run of the same seed must reproduce the first one."""

    def __init__(self, path: str):
        self.path = path

    def check(self, key: str, digest: str) -> bool:
        """True when ``digest`` matches the stored one, or none is stored yet
        (then it is stored)."""
        known = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                known = json.load(f)
        if key in known:
            return known[key] == digest
        known[key] = digest
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        return True
