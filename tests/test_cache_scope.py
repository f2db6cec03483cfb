"""Detector cache scope: every frame the detectors persist for the pairs
stage (LSH band keys, the substring gram join and rarest-gram argmin) is
released once the pairs are materialized — after a successful run and
after a failed one. Checked against Spark's CacheManager itself.

The LSH hot-key pre-pass (and so the band-key cache) only runs above
``band_hot_prepass_min_rows``; the floor is lowered to 0 here so that
every detector cache is exercised on the 200-conv fixture.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from transcript_dedup import pipeline
from transcript_dedup.pipeline import DedupPipeline, run_dedup_dataframes
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures


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


@pytest.mark.parametrize("outcome", ["success", "failure"])
def test_pipeline_run_releases_detector_caches(
    spark, cfg, turns200, tmp_path, monkeypatch, persisted, outcome
):
    cfg = cfg.with_(band_hot_prepass_min_rows=0)
    run = DedupPipeline(spark, str(tmp_path / "out"), cfg).run
    if outcome == "success":
        res = run(turns200, input_fingerprint="cache-scope")
        assert res["decisions"].count() > 0
    else:

        def boom(*args, **kwargs):
            raise RuntimeError("verify failed")

        monkeypatch.setattr(pipeline, "verify_candidates", boom)
        with pytest.raises(RuntimeError, match="verify failed"):
            run(turns200, input_fingerprint="cache-scope")
    # band keys + substring gram join + rarest-gram argmin
    assert len(persisted) >= 3
    assert _cache_is_empty(spark)


def test_run_dedup_dataframes_keeps_only_its_outputs_cached(spark, cfg, turns200, persisted):
    cfg = cfg.with_(band_hot_prepass_min_rows=0)
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
