"""Physical execution must never change results.

The session's shuffle width sets the partitioning of every shuffle and the
round-robin width of the LSH pair explosion; the emitted candidate pairs,
scores, and decisions must be bit-identical across widths. The plan-shape
gates render the pairs stage exactly as every pipeline path composes it
(pipeline.detect_pairs).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from transcript_dedup.detectors import exact_candidates, verify_candidates
from transcript_dedup.pipeline import detect_pairs
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures


def _pairs_fingerprint(spark, turns, cfg):
    conv = add_signatures(reconstruct_conversations(turns), cfg).persist()
    conv.count()
    with detect_pairs(conv, cfg) as pairs:
        row = pairs.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_match").cast("long")).alias("m"),
            F.expr("bit_xor(xxhash64(conv_a, conv_b, confidence, suggested_keep))").alias("h"),
        ).collect()[0]
    conv.unpersist()
    return (int(row["n"]), int(row["m"]), int(row["h"]))


def test_shuffle_partition_variants_identical(spark, turns200, cfg):
    # the shuffle width places every shuffle and sizes the round-robin
    # exchange before the LSH pair explosion (4x the width) — placement
    # only, the pair set must not move
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    fps = set()
    try:
        for width in (before, "3", "16"):
            spark.conf.set(key, width)
            fps.add(_pairs_fingerprint(spark, turns200, cfg))
    finally:
        spark.conf.set(key, before)
    assert len(fps) == 1, f"shuffle width changed results: {fps}"


def test_pipeline_plan_shape_gate(spark, turns200, cfg):
    """Plan-shape regression gate (round-6): render the physical plan of the
    full pairs stage exactly as the pipeline runs it — all three detector
    arms unioned, hydrated, verified — and pin the properties the 100 TB
    audit rests on: no CartesianProduct, no BroadcastNestedLoopJoin
    anywhere, hydration on ShuffledHashJoin, and the hydration join keys on
    the dictionary-encoded cid longs (a_cid/b_cid), not the conv_id
    strings. A future change that silently regresses any of these fails
    here instead of surfacing as a bench cliff. The same plan is archived
    in BENCH/PLANS.md by tools/explain_plans.py. The incremental shape a
    streaming micro-batch runs (a probe side of new conversations) must
    keep the same properties and plan no SortAggregate either."""
    # assert under BOTH AQE settings: the library session default runs AQE
    # on; the local-mode bench pipeline runs AQE off (round-7, measured
    # stage-wave latency). The 100 TB-audit properties must hold in both,
    # with the LSH hot-key pre-pass on (corpus size unknown, or above
    # lsh.PREPASS_MIN_ROWS) and off (the pipeline's known n_conv),
    # as a batch run and with every other conversation as the probe side.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe, n_conv, probed in itertools.product(("true", "false"), (None, 200), (False, True)):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            conv = add_signatures(reconstruct_conversations(turns200), cfg)
            probe = conv.filter("pmod(cid, 2) = 0").select("cid") if probed else None
            with detect_pairs(conv, cfg, n_conv=n_conv, probe=probe) as pairs:
                plan = pairs._jdf.queryExecution().executedPlan().toString()
            ctx = f" (aqe={aqe}, n_conv={n_conv}, probed={probed})"
            assert "CartesianProduct" not in plan, "cartesian join regressed" + ctx
            assert "BroadcastNestedLoopJoin" not in plan, "BNLJ regressed" + ctx
            assert "SortAggregate" not in plan, "sort-based aggregation regressed" + ctx
            assert "ShuffledHashJoin" in plan, "hydration lost shuffle_hash pin" + ctx
            assert "a_cid#" in plan and "b_cid#" in plan, "hydration not cid-keyed" + ctx
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def test_shuffle_hash_join_in_plan(spark, turns200, cfg):
    conv = add_signatures(reconstruct_conversations(turns200), cfg)
    cand = exact_candidates(conv)
    pairs = verify_candidates(cand, conv, cfg)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
