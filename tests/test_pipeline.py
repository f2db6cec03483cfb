"""End-to-end pipeline: oracle recall >= 0.99, planted-family recall,
no false merges, conflict invariant, resume, partition-count determinism."""

from __future__ import annotations

import collections
import itertools

import pytest

from transcript_dedup.generate import corpus_to_spark, generate_corpus
from transcript_dedup.oracle import (
    build_records,
    closure_pair_set,
    oracle_pairs,
    recall,
    transitive_closure,
)
from transcript_dedup.pipeline import (
    DedupPipeline,
    closure_pairs,
    detect_pairs,
    run_dedup_dataframes,
)


@pytest.fixture(scope="module")
def run200(spark, cfg, corpus200, turns200, tmp_path_factory):
    out = tmp_path_factory.mktemp("pipe200")
    pipe = DedupPipeline(spark, str(out), cfg)
    res = pipe.run(turns200, input_fingerprint="corpus200")
    return pipe, res


def _truth_pairs(truth):
    groups = collections.defaultdict(list)
    for c, t in zip(truth.conv_id, truth.truth_cluster_id):
        groups[t].append(c)
    out = set()
    for g in groups.values():
        g.sort()
        out.update(itertools.combinations(g, 2))
    return out


def test_recall_vs_oracle(run200, corpus200, cfg):
    """The north-rule gate: Spark transitive-closure pair set vs the
    all-pairs Python oracle at identical shingle/signature config."""
    _, res = run200
    turns_pdf, _ = corpus200
    spark_cp = {
        (r["conv_a"], r["conv_b"]) for r in closure_pairs(res["components"]).collect()
    }
    ocp = closure_pair_set(transitive_closure(oracle_pairs(build_records(turns_pdf, cfg), cfg)))
    assert recall(spark_cp, ocp) >= 0.99
    # and no spurious extra merges either (candidates are verified)
    assert len(spark_cp - ocp) == 0


def test_planted_family_recall_and_fp(run200, corpus200):
    _, res = run200
    _, truth = corpus200
    spark_cp = {
        (r["conv_a"], r["conv_b"]) for r in closure_pairs(res["components"]).collect()
    }
    tp = _truth_pairs(truth)
    fam = dict(zip(truth.conv_id, truth.family))
    missed = tp - spark_cp
    by_fam_total = collections.Counter(fam[a] for a, b in tp)
    by_fam_missed = collections.Counter(fam[a] for a, b in missed)
    for f in ("exact", "substring", "chain"):
        assert by_fam_missed.get(f, 0) == 0, (f, by_fam_missed)
    near_total = by_fam_total.get("near", 0)
    if near_total:
        assert 1 - by_fam_missed.get("near", 0) / near_total >= 0.9
    # false positives: planted negatives must not merge
    assert len(spark_cp - tp) == 0, list(spark_cp - tp)[:5]


def test_decisions_shape_and_conflicts(run200):
    pipe, res = run200
    from transcript_dedup.decide import find_conflicts

    dec = res["decisions"].collect()
    assert len(dec) > 0
    for r in dec:
        assert len(r["keep"]) == 1
        assert len(r["delete"]) >= 1
        assert not set(r["keep"]) & set(r["delete"])
        assert r["decision_type"] in ("auto", "needs_review")
    assert find_conflicts(res["decisions"]).count() == 0


def test_components_consistent_with_pairs(run200):
    _, res = run200
    comp = {r["conv_id"]: r["component_id"] for r in res["components"].collect()}
    matched = res["candidate_pairs"].filter("is_match").collect()
    for r in matched:
        assert comp[r["conv_a"]] == comp[r["conv_b"]]


def test_resume_skips_stages(run200, turns200, spark):
    pipe, res1 = run200
    man_before = pipe.io._load()
    res2 = pipe.run(turns200, input_fingerprint="corpus200")
    man_after = pipe.io._load()
    # no new snapshots for the four stage tables (metrics may append)
    for t in ("conversations", "candidate_pairs", "components", "decisions"):
        assert man_before["tables"][t]["current"] == man_after["tables"][t]["current"]
    assert res2["decisions"].count() == res1["decisions"].count()


def test_resume_never_scans_raw_input(spark, cfg, corpus200, tmp_path):
    """A fully-resumed run() must launch ZERO jobs over the raw turns input
    (VERDICT r3 'What's wrong' #3: at 10^12 turns, an input count on resume
    is a full corpus scan just to re-log a metrics field).

    Mechanism: the resumed run reads turns from a parquet dir whose data
    files are deleted after the DataFrame is planned — any job touching the
    input would throw FileNotFoundException, so success proves no scan."""
    import shutil

    from transcript_dedup.generate import corpus_to_spark

    turns_pdf, _ = corpus200
    src = str(tmp_path / "turns_parquet")
    corpus_to_spark(spark, turns_pdf).write.parquet(src)
    out = str(tmp_path / "pipe")
    pipe = DedupPipeline(spark, out, cfg)
    pipe.run(spark.read.parquet(src), input_fingerprint="fp-resume-test")

    turns2 = spark.read.parquet(src)  # plans (schema + file listing) eagerly
    shutil.rmtree(src)  # now any executed scan fails loud
    pipe2 = DedupPipeline(spark, out, cfg)
    res = pipe2.run(turns2, input_fingerprint="fp-resume-test")
    assert res["decisions"].count() > 0


def test_metrics_lineage_written(run200, spark, turns200):
    """One metrics row per stage: rows_in is the previous stage's committed
    rows (for conversations the turns count, observed on the turns),
    rows_out the committed rows, partition_rows the rows of each written
    part file, and the detector counters resolved integers."""
    pipe, res = run200
    m = pipe.io.read(spark, "pipeline_runs").toPandas()
    assert (m.rows_out > 0).all()
    assert (m.wall_ms > 0).all()
    rows = {r.stage: r for r in m.itertuples()}
    prev = turns200.count()
    for name in ("conversations", "candidate_pairs", "components", "decisions"):
        snap = pipe.io.current_snapshot(name)
        assert rows[name].rows_in == prev
        assert rows[name].rows_out == snap["rows"] == res[name].count()
        assert list(rows[name].partition_rows) == snap["file_rows"]
        prev = snap["rows"]
    counters = rows["candidate_pairs"].counters
    assert counters["n_conv_cid_checked"] == rows["conversations"].rows_out
    assert {"lsh_stop_band_keys", "substring_stop_grams", "substring_tiny_docs"} <= set(counters)


def test_determinism_under_repartition(spark, cfg, corpus200, tmp_path):
    """Identical decisions regardless of input partitioning (SURVEY 4.3)."""
    turns_pdf, _ = corpus200
    t = corpus_to_spark(spark, turns_pdf).repartition(13, "conv_id")
    pipe = DedupPipeline(spark, str(tmp_path / "p2"), cfg)
    res = pipe.run(t, input_fingerprint="corpus200-repart", resume=False)
    dec2 = {
        (r["group_id"], tuple(r["keep"]), tuple(r["delete"]), r["rule_applied"])
        for r in res["decisions"].collect()
    }
    pipe0 = DedupPipeline(spark, str(tmp_path / "p0"), cfg)
    res0 = pipe0.run(corpus_to_spark(spark, turns_pdf), input_fingerprint="x", resume=False)
    dec0 = {
        (r["group_id"], tuple(r["keep"]), tuple(r["delete"]), r["rule_applied"])
        for r in res0["decisions"].collect()
    }
    assert dec2 == dec0


def test_sinks_agree(run200, spark, cfg, turns200):
    """The TableIO sink (DedupPipeline.run) and the in-memory sink
    (run_dedup_dataframes) run the same stages: same matched pairs,
    components and decisions."""
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.signatures import add_signatures

    _, res = run200
    mem = run_dedup_dataframes(add_signatures(reconstruct_conversations(turns200), cfg), cfg)

    def rows(df, cols):
        return sorted(tuple(map(str, r)) for r in df.select(*cols).collect())

    pair_cols = ("conv_a", "conv_b", "confidence")
    dec_cols = ("group_id", "keep", "delete", "rule_applied", "decision_type", "min_confidence", "size")
    for name, cols, where in (
        ("candidate_pairs", pair_cols, "is_match"),
        ("components", ("conv_id", "component_id"), "true"),
        ("decisions", dec_cols, "true"),
    ):
        a, b = res[name].filter(where), mem[name].filter(where)
        got = rows(a, cols)
        assert got and got == rows(b, cols), name
    assert mem["n_conv"] == res["conversations"].count()
    for name in ("conversations", "candidate_pairs"):
        mem[name].unpersist()


def test_detectors_reject_unknown_names(cfg):
    for bad in (("exact", "minhash"), (), "exact"):
        with pytest.raises(ValueError, match="detectors"):
            with detect_pairs(None, cfg, detectors=bad):
                pass
