"""MinHash/LSH banded candidate join with explicit skew mitigation.

Scale replacement for the reference's O(n^2) nested-loop comparator
(/root/reference/src/duplicates.ts:19-39): each conversation's MinHash
signature is split into ``bands`` bands of ``rows`` values; a band key is
``xxhash64(band_id, slice(signature))``; conversations colliding on any band
key become candidates. All band arithmetic is built-in expressions
(JVM/codegen) — the signature itself was computed upstream by the Arrow
kernel.

Skew story (SURVEY.md section 4.2 — the custom half on top of AQE):
boilerplate-dominated bands produce degenerate keys whose within-key pair
count is quadratic; AQE can split partitions but cannot cut Cartesian
semantics. Mitigation, by key size ``sz``:

  sz > band_key_drop  -> dropped entirely (stop-bands, counted + reported);
  sz > band_key_cap   -> salted with ``pmod(cid, ceil(sz/cap))`` —
                         pairs only within a ~cap-sized salt subgroup.
                         Within-key recall drops to ~1/salt for that band,
                         but a true near-dup pair collides on several
                         independent bands, so union recall survives
                         (measured by the oracle recall test);
  otherwise           -> all within-key pairs.

Execution shape: ONE row-level shuffle. Band keys are grouped once
(collect_list of members per key) and candidate pairs are generated MAP-SIDE
from each group's member list. A degenerate key must never buffer its whole
member list in that aggregation, so above ``PREPASS_MIN_ROWS`` conversations
(or when the corpus size is unknown) a cheap pre-pass runs first: a
deterministic 1/``HOT_SAMPLE_MOD`` hash-sample of the band-key rows
estimates hot keys, their EXACT sizes are counted (count-only aggregation,
bounded state) and broadcast back, and rows of keys with exact sz >
band_key_drop are filtered out — while keys with cap < sz <= drop get their
salt added to the grouping key — BEFORE the collect_list. Keys the sample
misses (overwhelmingly < a few x cap) fall back to the identical
post-aggregation filter/salt logic, so the emitted pair set is invariant to
sampling accuracy; only the memory bound depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..metrics import observe
from .verify import touching

# hot-key pre-pass sample rate: a deterministic 1/HOT_SAMPLE_MOD hash-sample
# of the band-key rows estimates which keys are hot (_hot_band_sizes)
HOT_SAMPLE_MOD = 20
# scale floor for the pre-pass: when the caller KNOWS the corpus row count
# (pipeline paths pass it) and it is at or below this bound, the pre-pass is
# skipped — the danger it guards against (one degenerate key buffering
# unbounded member lists in the collect_list aggregation) is arithmetically
# impossible to matter below it: a key's member list is at most n_conv cids,
# so the worst single aggregation buffer is 8*n_conv bytes (8 MB at this
# bound) — while the pre-pass itself costs two serial broadcast barriers
# plus a sample aggregation on the pairs job's critical path (measured ~1 s
# of the sf0.1 components query and two 3-4 s broadcast collects at
# 240k/pinned-4). The emitted pair set is identical either way (the
# post-aggregation stop/salt logic is the same decision procedure — pinned
# by the pair-set invariance test); only the memory bound depends on it,
# exactly like cfg.cc_driver_threshold. Callers that don't know the corpus
# size keep the pre-pass.
PREPASS_MIN_ROWS = 1_000_000


def release_key_caches(registry: list[DataFrame]) -> None:
    """Unpersist every frame a detector registered in ``registry`` (the
    caller-owned list passed as ``cache_registry=``). Safe to call any time
    after the pairs output is materialized; idempotent."""
    while registry:
        registry.pop().unpersist()


def band_keys(conv: DataFrame, cfg: DedupConfig) -> DataFrame:
    """conversations -> (cid, band_id, band_hash); empty docs skipped.

    cid (8-byte long) instead of the conv_id string: this frame is rows x
    bands wide — the single biggest exchange in the whole pipeline — so the
    per-row id bytes dominate its shuffle size."""
    # explicit per-band expressions (codegen) instead of
    # transform(sequence(...), lambda) — HigherOrderFunctions run in the
    # expression interpreter; the unrolled xxhash64(slice) terms compile.
    # Built as one SQL text: one Py4J call instead of ~6 per band
    bands = ", ".join(
        f"xxhash64({b}, slice(minhash, {b * cfg.lsh_rows + 1}, {cfg.lsh_rows}))"
        for b in range(cfg.lsh_bands)
    )
    return conv.filter("n_shingles > 0").selectExpr(
        "cid", f"posexplode(array({bands})) AS (band_id, band_hash)"
    )


def _hot_band_sizes(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Small broadcastable map (band_id, band_hash, hot_sz) of band keys the
    hash-sample estimates hot, with their EXACT sizes (> band_key_cap only).

    The sample is keyed on a seeded xxhash64 of cid (deterministic,
    independent of physical partitioning, decorrelated from the band salt
    which hashes the bare cid). A key of size s appears ~s/mod times in the
    sample (mod = HOT_SAMPLE_MOD); the
    candidate threshold max(2, cap/mod) flags every key at >= a few x cap
    with overwhelming probability while keeping the candidate set ~|sample| /
    threshold at worst. Candidate keys then get exact count-only aggregation
    (O(1) state per key — no list) so downstream pre-drop/pre-salt decisions
    use true sizes and the pair set stays exact.
    """
    thresh = max(2, cfg.band_key_cap // HOT_SAMPLE_MOD)
    sampled = keys.filter(f"pmod(xxhash64('hot-key-probe', cid), {HOT_SAMPLE_MOD}) = 0")
    cand = (
        sampled.groupBy("band_id", "band_hash")
        .count()
        .filter(f"`count` >= {thresh}")
        .select("band_id", "band_hash")
    )
    return (
        keys.join(F.broadcast(cand), ["band_id", "band_hash"], "left_semi")
        .groupBy("band_id", "band_hash")
        .agg(F.expr("count(1) AS hot_sz"))
        .filter(f"hot_sz > {cfg.band_key_cap}")
    )


def lsh_candidates(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    cache_registry: list[DataFrame] | None = None,
    n_conv: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """conversations(minhash, n_shingles) -> (conv_a, conv_b, src='lsh'),
    cid-keyed (pairs canonically oriented by cid; the verify stage restores
    conv_id strings at its output).

    ONE row-level shuffle: band keys are grouped once (collect_list of
    members per key x salt subgroup) and candidate pairs are generated
    MAP-SIDE from each group's member list — the former sizes-groupBy +
    join-back + salted self-join (two more 10M-row exchanges, the dominant
    bandwidth-bound waves in the 240k profile) collapse into per-group
    combination expressions. Group fan-out is bounded twice over:

      hot keys (sampled pre-pass, exact sizes broadcast — _hot_band_sizes):
        sz > band_key_drop        -> rows dropped BEFORE aggregation;
        cap < sz <= drop          -> salt joins the grouping key, so each
                                     buffered list is one ~cap-sized (never
                                     > drop) salt subgroup;
      keys the sample missed (whp < a few x cap members):
        identical logic applied post-aggregation, exactly as if the pre-pass
        never existed — same stop/drop thresholds, same salt function, so
        the emitted pair set is bit-identical either way.

    Most band keys are singletons (~4.4M distinct keys for 5M rows at 120k),
    so the per-group lists stay tiny and the emitted pair count is unchanged.
    Duplicate pairs across bands are absorbed by the verify stage's
    groupBy(conv_a, conv_b), as before.

    ``n_conv`` (optional): the corpus row count, when the caller already
    knows it (the pipeline paths computed it for the cid-injectivity
    assert). The hot-key pre-pass runs iff ``n_conv`` is None or above
    PREPASS_MIN_ROWS — see that constant's rationale; the pair set is
    identical either way, only the aggregation memory bound changes.

    ``cache_registry`` (optional): a caller-owned list; when given, the
    band-key frame the pre-pass reads three times is persisted and appended
    to it, and the caller releases it (release_key_caches). Without one,
    nothing is cached.

    ``counters`` (optional): a caller-owned dict that gains the stop-band,
    salt and pre-pass counts as ``metrics.Observed`` values, observed on
    the hot-key broadcast and the band-key groups, so the first action
    over the returned frame fills them and no extra job runs.

    ``probe`` (optional, a frame of cids): key sizes, the pre-pass, the
    stop-band drop and the salt are computed over all of ``conv`` exactly
    as without it; then only the band keys of probe rows are grouped (each
    such group still holds every member, so ``size(m)`` and the salt are
    unchanged) and only the pairs touching the probe are emitted. The
    post-aggregation counters then describe the probed keys only.
    """
    prepass = n_conv is None or n_conv > PREPASS_MIN_ROWS
    keys = band_keys(conv, cfg)
    if cache_registry is not None and prepass:
        # the hot-key pre-pass reads the band-key frame three times (sample
        # aggregation, exact-count aggregation, main grouping); without a
        # cache each read recomputes the rows x bands explode from conv.
        # MEMORY_AND_DISK: at cluster scale this frame is rows x bands wide
        # and must be allowed to spill rather than evict the conv cache.
        # Cached only into the caller's registry, which releases it once the
        # pairs output materializes (pipeline.detect_pairs).
        from pyspark import StorageLevel

        keys = keys.persist(StorageLevel.MEMORY_AND_DISK)
        cache_registry.append(keys)
    on = ["band_id", "band_hash"]
    cap, drop = cfg.band_key_cap, cfg.band_key_drop

    pre = None
    if prepass:
        hot = _hot_band_sizes(keys, cfg)
        if counters is not None:
            # pre-pass stats, observed on the broadcast the pairs job builds
            hot, pre = observe(
                hot,
                dr=f"sum(if(hot_sz > {drop}, hot_sz, NULL))",
                dk=f"count_if(hot_sz > {drop})",
                sk=f"count_if(hot_sz <= {drop})",
                hk="count(1)",
            )
        keyed = keys.join(F.broadcast(hot), on, "left")
    else:
        keyed = keys.selectExpr("*", "CAST(NULL AS BIGINT) AS hot_sz")

    # pre-drop: stop-band rows never reach the aggregation buffer
    live = keyed.filter(f"hot_sz IS NULL OR hot_sz <= {drop}")
    if probe is not None:
        # only the probe ids are forced to broadcast: the probe's band keys
        # grow with the micro-batch (rows x bands), so Catalyst picks that join
        probe_keys = keys.join(F.broadcast(probe.select("cid")), "cid", "left_semi")
        live = live.join(probe_keys.select(*on), on, "left_semi")
    # pre-salt: known-hot keys group by (key, salt subgroup).
    # salt = pmod(cid, n): cid IS xxhash64(conv_id) (signatures.py), so this
    # equals the pre-cid pmod(xxhash64(conv_id), n) salt bit-for-bit — the
    # pair set is unchanged by the id encoding — and costs no extra hash
    presalt = F.expr(
        "CASE WHEN hot_sz IS NOT NULL "
        f"THEN pmod(cid, ceil(hot_sz / {cap})) ELSE 0 END"
    )
    groups = live.groupBy("band_id", "band_hash", presalt.alias("psalt")).agg(
        F.expr("collect_list(cid) AS m"), F.expr("first(hot_sz) AS hot_sz")
    )

    if counters is not None:
        # post-aggregation stats only describe keys the pre-pass missed;
        # observed on the groups the pairs job aggregates anyway
        groups, post = observe(
            groups,
            dropped_rows=f"sum(if(hot_sz IS NULL AND size(m) > {drop}, size(m), NULL))",
            dropped_keys=f"count_if(hot_sz IS NULL AND size(m) > {drop})",
            salted_keys=(
                f"count_if(hot_sz IS NULL AND size(m) > {cap} AND size(m) <= {drop})"
            ),
        )
        counters["lsh_stop_band_rows"] = post["dropped_rows"]
        counters["lsh_stop_band_keys"] = post["dropped_keys"]
        counters["lsh_salted_keys"] = post["salted_keys"]
        counters["lsh_hot_keys_prepass"] = counters["lsh_predropped_rows"] = 0
        if pre is not None:
            counters["lsh_stop_band_rows"] += pre["dr"]
            counters["lsh_stop_band_keys"] += pre["dk"]
            counters["lsh_salted_keys"] += pre["sk"]
            counters["lsh_hot_keys_prepass"] = pre["hk"]
            counters["lsh_predropped_rows"] = pre["dr"]

    # post-aggregation salt for keys the sample missed; pre-salted groups are
    # already one salt subgroup, so every within-group pair is valid there.
    # pmod(cid, n) — same bit-compat rationale as the pre-salt above
    def salt(x: str) -> str:
        return (
            f"CASE WHEN hot_sz IS NULL AND size(m) > {cap} "
            f"THEN pmod({x}, ceil(size(m) / {cap})) ELSE 0 END"
        )

    # every within-group pair whose members share a salt: elements strictly
    # after position i (slice is 1-based), oriented by cid
    pair_structs = (
        "flatten(transform(m, (x, i) -> transform("
        f"filter(slice(m, i + 2, size(m)), y -> {salt('x')} = {salt('y')}), "
        "y -> struct(least(x, y) AS conv_a, greatest(x, y) AS conv_b))))"
    )
    buckets = groups.filter(f"size(m) >= 2 AND (hot_sz IS NOT NULL OR size(m) <= {drop})")
    # round-robin repartition of the multi-member buckets (a small fraction
    # of group rows) before the m^2 pair explosion. Without it the explosion
    # fuses into the groupBy reducer task, so one partition's sum(m^2) sets
    # the stage's critical path (the last named straggler: ~5.5 s task vs
    # 0.9 s median at pinned 4 cores). 4x the session shuffle width gives
    # enough slots that no slot collects several heavy buckets, cheap enough
    # that the extra scheduling waves stay sub-second (measured round 6: at
    # the bench's T4 width that is 32 slots — wall -4% mean across three
    # interleaved pinned pairs, T1 neutral-to-positive, decisions
    # bit-identical). Placement only — the emitted pair set is unchanged.
    try:
        n_pair_parts = 4 * int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # conf can be non-numeric (e.g. "auto" under some AQE setups)
        n_pair_parts = 4 * buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(n_pair_parts)
    pairs = buckets.selectExpr(f"explode({pair_structs}) AS p").selectExpr(
        "p.conv_a AS conv_a", "p.conv_b AS conv_b", "'lsh' AS src"
    )
    return touching(pairs, probe)
