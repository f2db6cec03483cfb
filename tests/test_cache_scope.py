"""Detector cache scope: every frame the detectors persist for the pairs
stage (LSH band keys, the substring gram join and rarest-gram argmin) is
released once the pairs are materialized — after a successful run, after
a failed one and in the driver queries that run the detectors; connected
components releases its adjacency even when it fails, and a failed
streaming micro-batch releases every frame it persisted. Checked against
Spark's CacheManager itself.

The LSH hot-key pre-pass (and so the band-key cache) only runs above
``lsh.PREPASS_MIN_ROWS`` known conversations; the floor is lowered to 0
here so that every detector cache is exercised on the 200-conv fixture.
"""

from __future__ import annotations

import os

import pytest
from pyspark import StorageLevel

from transcript_dedup import pipeline
from transcript_dedup.detectors import lsh, substring
from transcript_dedup.generate import corpus_to_spark
from transcript_dedup.pipeline import DedupPipeline, run_dedup_dataframes
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures
from transcript_dedup.streaming import StreamingDedup

SF_0001 = "/root/testdata/sf0.001"


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def persisted(spark, turns200, monkeypatch):
    """Start from an empty CacheManager and record every DataFrame.persist
    call (proves the detectors did cache something, so the emptiness
    checks are not vacuous)."""
    spark.catalog.clearCache()
    calls: list = []
    cls = type(turns200)
    real = cls.persist

    def recording(self, *args, **kwargs):
        calls.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording)
    return calls


@pytest.mark.parametrize("outcome", ["success", "failure", "cc_failure", "stream_failure"])
def test_pipeline_run_releases_detector_caches(
    spark, cfg, corpus200, turns200, tmp_path, monkeypatch, persisted, outcome
):
    monkeypatch.setattr(lsh, "PREPASS_MIN_ROWS", 0)
    run = DedupPipeline(spark, str(tmp_path / "out"), cfg).run

    def boom(*args, **kwargs):
        raise RuntimeError("verify failed")

    if outcome == "success":
        res = run(turns200, input_fingerprint="cache-scope")
        assert res["decisions"].count() > 0
    elif outcome == "cc_failure":
        # distributed CC that cannot converge in one round: its persisted
        # adjacency must be released too
        run = DedupPipeline(
            spark, str(tmp_path / "out"), cfg.with_(cc_driver_threshold=0, cc_max_iters=1)
        ).run
        with pytest.raises(RuntimeError, match="did not converge"):
            run(turns200, input_fingerprint="cache-scope")
    elif outcome == "stream_failure":
        # a micro-batch that fails in its pairs stage, after it persisted
        # its conversations, the re-delivery join and the build side
        pdf = corpus200[0]
        first = pdf.conv_id.isin(sorted(pdf.conv_id.unique())[::2])
        sd = StreamingDedup(spark, str(tmp_path / "stream"), cfg, compact_every=0)
        sd.process_batch(corpus_to_spark(spark, pdf[first]), 0)
        monkeypatch.setattr(pipeline, "verify_candidates", boom)
        with pytest.raises(RuntimeError, match="verify failed"):
            sd.process_batch(corpus_to_spark(spark, pdf[~first]), 1)
    else:
        monkeypatch.setattr(pipeline, "verify_candidates", boom)
        with pytest.raises(RuntimeError, match="verify failed"):
            run(turns200, input_fingerprint="cache-scope")
    # band keys + substring gram join + rarest-gram argmin
    assert len(persisted) >= 3
    assert _cache_is_empty(spark)


def test_run_dedup_dataframes_keeps_only_its_outputs_cached(
    spark, cfg, turns200, monkeypatch, persisted
):
    monkeypatch.setattr(lsh, "PREPASS_MIN_ROWS", 0)
    conv = add_signatures(reconstruct_conversations(turns200), cfg)
    res = run_dedup_dataframes(conv, cfg)
    assert res["decisions"].count() > 0
    # conv + pairs, plus the three detector caches
    assert len(persisted) >= 5
    kept = (res["conversations"], res["candidate_pairs"])
    assert all(df.storageLevel != StorageLevel.NONE for df in kept)
    for df in kept:
        df.unpersist()
    assert _cache_is_empty(spark)


@pytest.mark.parametrize(
    "name",
    [
        "transcript_decisions_es",
        pytest.param(
            "doc_substring_pairs",
            marks=pytest.mark.skipif(
                not os.path.isdir(SF_0001), reason="driver testdata absent"
            ),
        ),
    ],
)
def test_driver_query_releases_detector_caches(spark, monkeypatch, persisted, name):
    """Once a driver query's result is collected, no detector frame stays
    cached: only the query's own conv and pairs persists, which its result
    reads, remain."""
    import __spark_entry__ as E

    detector_frames: list = []
    real = substring._cached

    def recording(df, registry):
        out = real(df, registry)
        detector_frames.append(out)
        return out

    monkeypatch.setattr(substring, "_cached", recording)
    assert E.queries()[name](spark, SF_0001).collect()
    # gram join + rarest-gram argmin
    assert len(detector_frames) >= 2
    assert all(df.storageLevel == StorageLevel.NONE for df in detector_frames)
    kept = [df for df in persisted if df.storageLevel != StorageLevel.NONE]
    assert len(kept) == len(persisted) - len(detector_frames) == 2
    for df in kept:
        df.unpersist()
    assert _cache_is_empty(spark)
