"""Job configuration.

Mirrors the role of the reference's config.json merge
(/root/reference/src/index.ts:82-97, defaults :56-72): one plain dataclass
carried by the driver; shingle/signature parameters are the graft analogue of
``durationToleranceSeconds`` / ``duplicateScoreThreshold``
(/root/reference/config.json:93-118).

Everything here is deterministic — signatures computed by the Spark kernel and
by the pure-Python oracle share these exact parameters, which is what the
"identical shingle/signature config" clause of the recall target means.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash ---------------------------------------------
    # banding tuned so the s-curve midpoint (1/b)^(1/r) ~= 0.31 sits below
    # jaccard_threshold: pairs at the verify threshold are found with
    # P ~= 0.76 per the banding curve alone (the SimHash Hamming-ball
    # verifier is the OR-ed second detector for the short-doc band of that
    # region), while sub-0.2-Jaccard boilerplate pairs mostly don't
    # collide; the ones that do are rejected by verify and their degenerate
    # band keys are absorbed by the stop-band/salting machinery.
    # num_perm 96 (32x3 bands) replaced 126 (42x3) in round 4: a pinned
    # interleaved A/B at 120k convs measured the pipeline 8-9% faster at
    # BOTH scaling levels (T1 233.5->213.2 s, T4 78.4->72.5 / 86.5->79.5 s
    # — the band-key explode shrinks 24% and the minhash arrays through the
    # verify hydration shuffle shrink 24%), with planted-truth recall
    # measured at 0.9954 vs 0.9892 at 2k convs (near-family 0.985 vs 0.965,
    # zero spurious merges both ways — NOTES.md "Round-4 measurements").
    shingle_k: int = 5                  # tokens per shingle
    num_perm: int = 96                  # MinHash permutations
    lsh_bands: int = 32                 # bands (lsh_bands * lsh_rows == num_perm)
    lsh_rows: int = 3                   # rows per band
    minhash_seed: int = 0x5EED_1DEA     # seeds the (a, b) permutation params

    # --- verification thresholds ------------------------------------------
    # fuzzy gate: band collision AND (est-Jaccard >= tau OR Hamming <= r).
    # est-Jaccard from full signatures is deterministic given identical
    # signatures — the oracle recomputes the same value. SimHash is the
    # *alternative* verifier (measured: true near-dup Hamming overlaps the
    # negative range, so it cannot be a conjunct).
    jaccard_threshold: float = 0.35
    # SimHash Hamming-ball radius (graft analogue of Levenshtein sim >= 0.9,
    # /root/reference/src/duplicates.ts:130-139)
    hamming_radius: int = 6
    # length-band tolerance, analogue of duration +/- 5 s
    # (/root/reference/src/duplicates.ts:85-95, config.json:93)
    length_tolerance_frac: float = 0.2

    # --- confidence weights (reference code wins over README,
    #     /root/reference/src/duplicates.ts:60-78; SURVEY.md section 2.11) ---
    w_exact: int = 50                   # content-hash equality ~ artist+title
    w_fuzzy: int = 30                   # MinHash/SimHash ~ filename fuzzy
    w_length: int = 15                  # length band ~ duration tolerance
    w_meta: int = 5                     # role-seq agreement ~ album match
    # auto-decision confidence gate (/root/reference/src/auto-decider.ts:196;
    # default 70 rules.ts:16, user config 40 config.json:111)
    confidence_threshold: int = 40

    # --- substring detector -----------------------------------------------
    substring_gram_k: int = 24          # chars per sampled gram
    # content-defined sampling: hash % mod == 0. 64 halves the exploded
    # gram table (the biggest substring shuffle); the resulting ~2-3%
    # gramless docs are cheap since the fallback became a pattern-probe
    # kernel pass (one corpus scan for ALL patterns) instead of a
    # per-pattern broadcast instr scan
    substring_mod: int = 64
    # grams occurring in more docs than this are boilerplate: useless for
    # containment blocking (true containment shares ALL inner grams, so any
    # one rare gram suffices) and quadratic in the pair join. Docs whose
    # sampled grams ALL get stopped are routed to the exhaustive tiny path,
    # preserving exact recall.
    substring_gram_maxdf: int = 300
    # hard cap on the tiny-path (exhaustive broadcast) fallback doc count —
    # a boilerplate-degenerate corpus would otherwise route unbounded work
    # into the corpus-scan nested-loop join. Overflow always fails loud.
    # The probe packs pattern indices into 24 bits and holds at most two
    # anchor patterns per tiny doc, so 2 * cap must stay below 2^24.
    substring_tiny_cap: int = 10_000

    # --- skew handling ------------------------------------------------------
    # band keys with more than `cap` members get a dynamic salt of
    # ceil(size/cap) — subgroups stay ~cap-sized; keys beyond `drop` are
    # stop-bands: boilerplate-degenerate, dropped with a counter (true
    # duplicate groups that large are caught by the exact detector's hash
    # equality and by their other, less-degenerate bands). The hot-key
    # pre-pass that applies both before aggregation is sized in
    # detectors/lsh.py (HOT_SAMPLE_MOD, PREPASS_MIN_ROWS).
    band_key_cap: int = 100
    band_key_drop: int = 2000

    # --- internal id encoding -------------------------------------------------
    # cid = xxhash64(cid_seed, conv_id): the dictionary-encoded 8-byte id
    # every detector keys on (signatures.add_signatures). Injectivity over
    # the corpus is asserted per pairs job (signatures.assert_cid_unique —
    # birthday bound ~n^2/2^65: ~5e-10 at 120k docs, ~0.03 expected
    # collisions at 1e9). On the loud collision failure, bump this seed for
    # an independent draw; corpora far beyond 1e9 docs should shard the
    # dedup run (or widen cid) rather than retry seeds.
    cid_seed: int = 0

    # --- clustering ----------------------------------------------------------
    cc_max_iters: int = 50
    # below this many edges, connected components runs as driver-side
    # union-find (the graph after dedup is tiny relative to the corpus;
    # collect cost ~ O(edges)); above it, the distributed hash-to-min loop
    # takes over. Set to 0 to force the distributed path (tests do).
    cc_driver_threshold: int = 2_000_000

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def __post_init__(self):
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if 2 * self.substring_tiny_cap >= 1 << 24:
            raise ValueError(
                f"substring_tiny_cap ({self.substring_tiny_cap}) must be below "
                "2^23: the tiny-path probe indexes patterns in 24 bits"
            )

