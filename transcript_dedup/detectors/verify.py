"""Candidate verification + scoring — the ``compareFiles`` analogue
(/root/reference/src/duplicates.ts:44-83), expressed entirely as built-in
column expressions (whole-stage codegen, no Python).

Signals and weights (reference code wins over README — SURVEY.md 2.11):

  content   +50  content-hash equality            ~ artist+title exact (:97-108)
  fuzzy     +30  band collision AND (est-Jaccard
                 >= tau OR SimHash Hamming <= r)  ~ filename Levenshtein (:110-140)
                 (OR, deliberately: SimHash is the ALTERNATIVE verifier for
                 short docs whose shingle overlap underestimates similarity
                 — measured, see config.py; the reference's own gate is a
                 disjunction of verifiers, duplicates.ts:56-58. The OR-gate
                 false-positive budget is pinned by
                 tests/test_properties.py::test_fuzzy_or_gate_fp_budget.)
  substring +30  verified containment edge        ~ (graft addition)
  length    +15  |chars_a - chars_b| within band  ~ duration +/- 5 s (:85-95)
  roles      +5  identical role sequence          ~ album match (:142-148)

Gate (reference: artistTitle || filename, duplicates.ts:56-58):
``content OR fuzzy OR substring``; length/roles only add confidence.

est-Jaccard = fraction of agreeing MinHash positions (zip_with/aggregate on
the signature arrays) — deterministic given identical signatures, so the
pure-Python oracle computes the identical value.

suggested_keep follows selectBestFile (duplicates.ts:198-225): combined
score with strict ``>`` so the first-seen side (conv_a) wins ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig

#: graft analogue of tagCount*1000 + qualityScore (duplicates.ts:215):
#: completeness buckets (0-10) are the "tag count", total_chars the quality.
QUALITY_SCORE_SQL = "round(completeness * 10) * 100000 + total_chars"


def quality_sql(prefix: str = "") -> str:
    return QUALITY_SCORE_SQL.replace("completeness", f"{prefix}completeness").replace(
        "total_chars", f"{prefix}total_chars"
    )


def resolve_pair_ids(
    pairs: DataFrame, conv: DataFrame, cols: tuple[str, str] = ("conv_a", "conv_b")
) -> DataFrame:
    """Map a raw detector pair frame (cid longs) back to conv_id strings,
    re-orienting by string order — for consumers of bare detector output
    (verify_candidates does this itself via its hydration payload)."""
    ids = conv.select("cid", "conv_id")
    a, b = cols
    out = (
        pairs.join(ids.toDF("cid", "_ida"), pairs[a] == F.col("cid"))
        .drop("cid", a)
        .join(ids.toDF("cid", "_idb"), pairs[b] == F.col("cid"))
        .drop("cid", b)
    )
    rest = [c for c in out.columns if c not in ("_ida", "_idb")]
    return out.select(
        F.least("_ida", "_idb").alias(a), F.greatest("_ida", "_idb").alias(b), *rest
    )


def touching(pairs: DataFrame, probe: DataFrame | None) -> DataFrame:
    """The (conv_a, conv_b) cid pairs with at least one endpoint in
    ``probe`` (a frame with a ``cid`` column); every pair when ``probe`` is
    None. Each endpoint is flagged by a broadcast outer join against the
    distinct probe ids, so the pairs are read once and none is emitted
    twice, and the plan needs no nested-loop join."""
    if probe is None:
        return pairs
    ids = probe.select("cid").distinct()
    flagged = pairs
    for end in ("conv_a", "conv_b"):
        flags = ids.selectExpr(f"cid AS {end}", f"true AS _probe_{end}")
        flagged = flagged.join(F.broadcast(flags), end, "left")
    return flagged.filter("_probe_conv_a OR _probe_conv_b").select(*pairs.columns)


def verify_candidates(
    candidates: DataFrame, conv: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """candidates(conv_a, conv_b, src — cid longs) + conversations ->
    candidate_pairs.

    Output (external string surface — ids restored from the hydration
    payload, pairs re-oriented by conv_id string order): conv_a, conv_b,
    is_match, confidence int, match_reasons array<string>, suggested_keep,
    est_jaccard, hamming.
    """
    # candidates arrive keyed by cid (the dictionary-encoded long id —
    # signatures.add_signatures): the groupBy below and both hydration joins
    # run on primitive longs; conv_id strings re-enter only as hydration
    # payload and the output restores string ids + string-ordered pair
    # orientation, so downstream consumers see exactly the pre-cid surface.
    # detector memberships as a bitmask folded with bit_or: a primitive
    # codegen aggregate instead of collect_set's ObjectHashAggregate (the
    # set-of-strings version measured 186 core-s over ~2M candidate rows)
    #
    # Every expression below is SQL text: one Py4J call per expression,
    # where the Column API makes one per column reference, literal and
    # operator; the plans are the same.
    srcs = (
        candidates.withColumn(
            "_m", F.expr("CASE WHEN src = 'exact' THEN 1 WHEN src = 'lsh' THEN 2 ELSE 4 END")
        )
        .groupBy("conv_a", "conv_b")
        .agg(F.expr("bit_or(_m) AS src_mask"))
    )

    # hydration payload is shuffled twice (a/b side): keep it minimal.
    # role_seq is compared ONLY for equality, so ship its 64-bit hash
    # instead of the O(turns)-byte string (collision => a spurious +5
    # confidence, P ~ 2^-64 per pair — far below the content-hash arm's
    # own collision floor). cid leads (join key); conv_id rides as payload
    # only so the output can restore string ids.
    feats = {
        "cid": "cid",
        "conv_id": "conv_id",
        "minhash": "minhash",
        "content_hash": "content_hash",
        "simhash": "simhash",
        "n_shingles": "n_shingles",
        "total_chars": "total_chars",
        "role_key": "xxhash64(role_seq)",
        "completeness": "completeness",
    }
    # pairs <-> conv features is a key-equality join whose conv side is the
    # whole corpus: at 10^12 turns it can only ever be a shuffled join, so
    # run that plan at every scale. (Auto-broadcast of the conv side "works"
    # at bench scale but serializes ~12 s of relation collect+build per side
    # on the driver — measured, see BENCH/BASELINE.md round 3.)
    a, b = (
        conv.selectExpr(*[f"{sql} AS {p}_{c}" for c, sql in feats.items()]).hint("shuffle_hash")
        for p in ("a", "b")
    )
    est_j = (
        "aggregate(zip_with(a_minhash, b_minhash, (x, y) -> CAST(x = y AS INT)), 0, "
        f"(acc, x) -> acc + x) / {cfg.num_perm}"
    )
    scored = (
        srcs.join(a, F.expr("conv_a = a_cid"))
        .join(b, F.expr("conv_b = b_cid"))
        .drop("a_cid", "b_cid")
        .withColumn("est_jaccard", F.expr(est_j))
        .selectExpr(
            "a_conv_id",
            "b_conv_id",
            "src_mask",
            "est_jaccard",
            "bit_count(a_simhash ^ b_simhash) AS hamming",
            "a_content_hash = b_content_hash AND a_n_shingles > 0 AND b_n_shingles > 0"
            " AS m_content",
            "abs(a_total_chars - b_total_chars) <= greatest(a_total_chars, b_total_chars)"
            f" * {cfg.length_tolerance_frac!r}D AS m_length",
            "a_role_key = b_role_key AS m_roles",
            f"{quality_sql('a_')} AS a_q",
            f"{quality_sql('b_')} AS b_q",
        )
    )
    # second factor on the exact arm: identical texts have identical minhash
    # arrays, so est_jaccard == 1.0 exactly; a 64-bit content_hash collision
    # between different texts (expected O(1) at 10^10 docs) would need a
    # simultaneous full-signature collision to cause a false merge
    scored = scored.withColumn("m_content", F.expr("m_content AND est_jaccard = 1.0D")).withColumn(
        "m_fuzzy",
        F.expr(
            "(src_mask & 2) != 0 AND "
            f"(est_jaccard >= {cfg.jaccard_threshold!r}D OR hamming <= {cfg.hamming_radius})"
        ),
    ).withColumn("m_substring", F.expr("(src_mask & 4) != 0"))

    w = cfg
    reasons = ", ".join(
        f"CASE WHEN m_{r} THEN '{r}' END"
        for r in ("content", "fuzzy", "substring", "length", "roles")
    )
    # restore the external (string) surface: pairs oriented by conv_id
    # string order — exactly the pre-cid contract — regardless of the
    # internal cid orientation the detectors emitted
    out = scored.selectExpr(
        "least(a_conv_id, b_conv_id) AS conv_a",
        "greatest(a_conv_id, b_conv_id) AS conv_b",
        "est_jaccard",
        "hamming",
        "m_content OR m_fuzzy OR m_substring AS is_match",
        f"CAST(m_content AS INT) * {w.w_exact} + CAST(m_fuzzy AS INT) * {w.w_fuzzy}"
        f" + CAST(m_substring AS INT) * {w.w_fuzzy} + CAST(m_length AS INT) * {w.w_length}"
        f" + CAST(m_roles AS INT) * {w.w_meta} AS confidence",
        f"filter(array({reasons}), x -> x IS NOT NULL) AS match_reasons",
        # strictly greater quality wins; ties keep the string-min side (the
        # reference keeps first-seen, duplicates.ts:216-221 — identical to
        # the pre-cid "conv_a keeps ties" since conv_a was the string-min)
        "CASE WHEN a_q > b_q THEN a_conv_id WHEN b_q > a_q THEN b_conv_id"
        " ELSE least(a_conv_id, b_conv_id) END AS suggested_keep",
    )
    return out
