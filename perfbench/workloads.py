"""Seeded inputs for the benchmark workloads.

Every corpus comes from ``transcript_dedup.generate.generate_corpus``; the
engine receives only the turns, the truth sidecar stays with the benchmark.

``small`` is the plain generator mix. ``bulk`` is a larger corpus in which a
share of conversations opens with one of a few shared system-prompt turns,
the way agent transcripts carry a long fixed preamble. A prompt is added
only to whole truth families whose every member has at least
``PROMPT_MIN_RATIO`` times the prompt's tokens of its own text, so two
prompt-sharing conversations from different families share at most
1 / (1 + 2 * PROMPT_MIN_RATIO) of their shingles (0.14): well below the
0.35 verify threshold, so the planted truth still holds. Substring
families are left alone, since a prompt in front of the inner conversation
would break its containment in the outer one.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from transcript_dedup.generate import generate_corpus

#: conversations per workload; ``scale`` divides them for smoke tests
SIZES = {"small": 2_000, "bulk": 5_000}

PROMPT_COUNT = 3
PROMPT_TOKENS = 48
PROMPT_MIN_RATIO = 3


@dataclass
class Corpus:
    turns: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    truth: pd.DataFrame  # conv_id, truth_cluster_id, family

    @property
    def n_conv(self) -> int:
        return len(self.truth)


def make_corpus(workload: str, seed: int, scale: int = 1) -> Corpus:
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(SIZES)}")
    turns, truth = generate_corpus(max(50, SIZES[workload] // scale), seed=seed)
    if workload == "bulk":
        turns = add_system_prompts(turns, truth, np.random.default_rng([seed, 1]))
    return Corpus(turns, truth)


def add_system_prompts(
    turns: pd.DataFrame, truth: pd.DataFrame, rng: np.random.Generator
) -> pd.DataFrame:
    """Prepend one of ``PROMPT_COUNT`` shared prompt turns to every member of
    each eligible family (see module docstring)."""
    prompts = [
        " ".join(f"sys{w:03d}" for w in rng.integers(0, 1000, size=PROMPT_TOKENS))
        for _ in range(PROMPT_COUNT)
    ]
    own_tokens = turns.text.str.split().str.len().groupby(turns.conv_id).sum()
    fam = truth.set_index("conv_id").join(own_tokens.rename("tokens"))
    fam_min = fam.groupby("truth_cluster_id").agg(
        tokens=("tokens", "min"), family=("family", "first")
    )
    eligible = fam_min[
        (fam_min.tokens >= PROMPT_MIN_RATIO * PROMPT_TOKENS)
        & (fam_min.family != "substring")
    ].index.sort_values()
    prompt_of_family = pd.Series(
        rng.integers(0, PROMPT_COUNT, size=len(eligible)), index=eligible
    )
    prompt_of_conv = fam.truth_cluster_id.map(prompt_of_family).dropna().astype(int)

    first = turns[turns.turn_idx == 0].set_index("conv_id").loc[prompt_of_conv.index]
    head = pd.DataFrame(
        {
            "conv_id": prompt_of_conv.index,
            "turn_idx": 0,
            "role": "system",
            "text": [prompts[i] for i in prompt_of_conv],
            "tool": "",
            "ts": first.ts.to_numpy() - np.timedelta64(30, "s"),
        }
    )
    shifted = turns.copy()
    shifted.loc[shifted.conv_id.isin(prompt_of_conv.index), "turn_idx"] += 1
    out = pd.concat([head, shifted], ignore_index=True)
    return out.sort_values(["conv_id", "turn_idx"], ignore_index=True).astype(
        {"turn_idx": "int32"}
    )


def streaming_batches(
    corpus: Corpus, rng: np.random.Generator, base_convs: int = 400, new_convs: int = 120
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Split a sub-corpus into a stored base and one micro-batch.

    The micro-batch holds whole new families, the later members of families
    whose first member sits in the base (cross-batch duplicates), and a few
    base conversations delivered again unchanged (re-delivered ids)."""
    fams = corpus.truth.sort_values("conv_id").groupby("truth_cluster_id").conv_id.agg(list)
    fams = fams.iloc[rng.permutation(len(fams))]
    base, batch = [], []
    for members in fams:
        if len(base) < base_convs:
            split = len(members) > 1 and rng.random() < 0.3
            base += members[:1] if split else members
            batch += members[1:] if split else []
        elif len(batch) < new_convs:
            batch += members
        else:
            break
    batch += list(rng.choice(base, size=max(1, len(base) // 50), replace=False))
    t = corpus.turns
    return t[t.conv_id.isin(base)], t[t.conv_id.isin(batch)]


def prefix_turns(corpus: Corpus, convs: int = 100) -> pd.DataFrame:
    """Turns of the first ``convs`` conversations by id."""
    keep = corpus.truth.conv_id.sort_values().iloc[:convs]
    return corpus.turns[corpus.turns.conv_id.isin(keep)]
