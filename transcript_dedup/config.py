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

from dataclasses import dataclass, field, replace


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
    # stored signature width. 32 truncates each 64-bit per-permutation min
    # to its low 32 bits (signatures._truncate_sig — argmin still decided
    # in 64-bit space, estimator unchanged up to a 2^-32 collision term),
    # halving signature bytes through the verify hydration shuffle. Kept at
    # 64: an interleaved pinned A/B at 120k measured the int32 arrays
    # consistently ~8% SLOWER in the pairs phase (63.9/61.2 s vs 58.9/57.6
    # at 4 pinned cores — array<int> codegen paths lose more than the bytes
    # save on this box; identical pair sets both widths). Part of the
    # config fingerprint so snapshots invalidate when it changes.
    minhash_width: int = 64

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
    # ceil(size/cap) (bounded by band_salt_max) — subgroups stay ~cap-sized;
    # keys beyond `drop` are stop-bands: boilerplate-degenerate, dropped with
    # a counter (true duplicate groups that large are caught by the exact
    # detector's hash equality and by their other, less-degenerate bands).
    band_key_cap: int = 100
    band_salt_max: int = 64
    band_key_drop: int = 2000
    # hot-band-key pre-pass: a deterministic 1/mod hash-sample of band-key
    # rows estimates which keys are hot; exact counts for those keys are
    # broadcast back so stop-band rows are dropped and oversize keys salted
    # BEFORE the collect_list aggregation ever buffers them (one degenerate
    # boilerplate key must not materialize millions of ids in one task).
    # The pair set is invariant to sampling accuracy — a missed hot key just
    # falls back to the post-aggregation filter path. 0 disables the
    # pre-pass (tests use it for pair-set identity checks).
    band_hot_sample_mod: int = 20
    # scale floor for the pre-pass: when the caller KNOWS the corpus row
    # count (pipeline paths pass it) and it is at or below this bound, the
    # pre-pass is skipped — the danger it guards against (one degenerate
    # key buffering unbounded member lists in the collect_list aggregation)
    # is arithmetically impossible to matter below it: a key's member list
    # is at most n_conv cids, so the worst single aggregation buffer is
    # 8*n_conv bytes (8 MB at this bound) — while the pre-pass itself costs
    # two serial broadcast barriers plus a sample aggregation on the pairs
    # job's critical path (measured ~1 s of the sf0.1 components query and
    # two 3-4 s broadcast collects at 240k/pinned-4). The emitted pair set
    # is identical either way (the post-aggregation stop/salt logic is the
    # same decision procedure — pinned by the pair-set invariance test);
    # only the memory bound depends on it, exactly like cc_driver_threshold.
    # Callers that don't know the corpus size keep the pre-pass.
    band_hot_prepass_min_rows: int = 1_000_000

    # --- internal id encoding -------------------------------------------------
    # cid = xxhash64(cid_seed, conv_id): the dictionary-encoded 8-byte id
    # every detector keys on (signatures.add_signatures). Injectivity over
    # the corpus is asserted per pairs job (signatures.assert_cid_unique —
    # birthday bound ~n^2/2^65: ~5e-10 at 120k docs, ~0.03 expected
    # collisions at 1e9). On the loud collision failure, bump this seed for
    # an independent draw; corpora far beyond 1e9 docs should shard the
    # dedup run (or widen cid) rather than retry seeds.
    cid_seed: int = 0

    # --- physical execution ---------------------------------------------------
    # round-robin repartition of the multi-member band buckets (a small
    # fraction of group rows) between the band groupBy and the m^2 pair
    # explosion. Without it the explosion fuses into the groupBy reducer
    # task, so one partition's sum(m^2) over its buckets sets the stage's
    # critical path (the last named straggler: ~5.5 s task vs 0.9 s median
    # at pinned 4 cores). A positive value inserts one cheap exchange of
    # just the sz>=2 bucket rows and spreads heavy buckets independently of
    # the band-key hash. 0 keeps the fused single-shuffle plan; -1 (the
    # default) auto-sizes to 4 x spark.sql.shuffle.partitions (measured
    # round 6: at the bench's T4 width that is 32 slots — wall −4% mean
    # across three interleaved pinned pairs, T1 neutral-to-positive,
    # decisions bit-identical).
    pair_gen_partitions: int = -1

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

