"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Smoke runs start the benchmark command on a corpus divided by ``--scale``
and check that it prints exactly the metrics ``BENCHMARK.json`` lists. They
take a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.checks import truth_scores  # noqa: E402
from perfbench.eventlog import read_event_log  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    PROMPT_MIN_RATIO,
    PROMPT_TOKENS,
    make_corpus,
    streaming_batches,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, workload: str, trace: int, scale: int = 20):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_the_listed_metrics(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run_bench(str(tmp_path), "small", 0)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_corpora_repeat_for_a_seed_and_prompts_stay_below_threshold():
    a, b = make_corpus("bulk", 5, scale=10), make_corpus("bulk", 5, scale=10)
    assert a.turns.equals(b.turns) and a.truth.equals(b.truth)
    prompted = a.turns[a.turns.role == "system"]
    assert len(prompted) > 0
    own = a.turns[a.turns.role != "system"]
    tokens = own.text.str.split().str.len().groupby(own.conv_id).sum()
    assert tokens[prompted.conv_id].min() >= PROMPT_MIN_RATIO * PROMPT_TOKENS
    fam = dict(zip(a.truth.conv_id, a.truth.family))
    assert not any(fam[c] == "substring" for c in prompted.conv_id)


def test_truth_scores():
    truth = pd.DataFrame(
        {"conv_id": ["a", "b", "c", "d"], "truth_cluster_id": ["a", "a", "c", "d"]}
    )
    comps = pd.DataFrame(
        {"conv_id": ["a", "b", "c", "d"], "component_id": ["a", "a", "c", "c"]}
    )
    assert truth_scores(comps, truth) == (1.0, 1)


def test_event_log_groups_and_gaps(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "lsh"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "lsh"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    g = read_event_log(str(tmp_path))["lsh"]
    assert (g.jobs, g.stages, g.tasks) == (2, 1, 1)
    assert g.core_s == 1.5 and g.gc_s == 0.1 and g.shuffle_mb == 2.0
    # span 0.5..6.0 s, jobs busy 1..3 and 4..5 -> 2.5 s with no job
    assert g.gap_s(0.5, 6.0) == pytest.approx(2.5)


def partition(components: pd.DataFrame) -> set[frozenset[str]]:
    """Components as a set of member sets (labels differ between runs)."""
    return {frozenset(ids) for ids in components.groupby("component_id").conv_id.agg(list)}


def test_streamed_components_equal_a_batch_run(tmp_path):
    """Stored components after a base and one micro-batch (new
    conversations, cross-batch duplicates, re-delivered ids) equal the
    batch pipeline's over the same conversations."""
    from transcript_dedup.config import DedupConfig
    from transcript_dedup.generate import corpus_to_spark
    from transcript_dedup.pipeline import run_dedup_dataframes
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.session import get_spark, stop_spark
    from transcript_dedup.signatures import add_signatures
    from transcript_dedup.streaming import StreamingDedup

    corpus = make_corpus("small", 4, scale=4)
    base, batch = streaming_batches(corpus, np.random.default_rng(0), 300, 100)
    assert base.conv_id.isin(batch.conv_id).any()  # re-delivered ids
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    try:
        cfg = DedupConfig()
        sd = StreamingDedup(spark, str(tmp_path / "stream"), cfg, compact_every=0)
        sd.process_batch(corpus_to_spark(spark, base), 0)
        sd.process_batch(corpus_to_spark(spark, batch), 1)
        streamed = partition(sd.stored_components().toPandas())
        union = pd.concat([base, batch]).drop_duplicates(["conv_id", "turn_idx"])
        conv = add_signatures(reconstruct_conversations(corpus_to_spark(spark, union)), cfg)
        batch_comps = run_dedup_dataframes(conv, cfg)["components"].toPandas()
    finally:
        stop_spark(spark)
    assert streamed == partition(batch_comps)
