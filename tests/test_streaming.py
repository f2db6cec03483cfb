"""Structured Streaming incremental dedup. A micro-batch runs the batch
detectors with its new conversations as their probe side, so deliveries end
in the cluster state of one batch run over the full corpus, apart from the
committed-pairs limitation in the streaming module docstring."""

from __future__ import annotations

import os

import pytest

from transcript_dedup import pipeline, streaming
from transcript_dedup.cluster import connected_components
from transcript_dedup.detectors import exact_candidates, lsh_candidates, substring_candidates
from transcript_dedup.generate import corpus_to_spark, generate_corpus
from transcript_dedup.pipeline import detect_pairs
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures
from transcript_dedup.streaming import StreamingDedup

ARMS = {
    "exact": lambda conv, cfg, probe: exact_candidates(conv, probe=probe),
    "lsh": lambda conv, cfg, probe: lsh_candidates(conv, cfg, probe=probe),
    "substring": lambda conv, cfg, probe: substring_candidates(conv, cfg, probe=probe),
}


def matched_pairs(spark, turns_pdf, cfg) -> set:
    """(conv_a, conv_b) of the matched pairs of one batch run."""
    conv = add_signatures(reconstruct_conversations(corpus_to_spark(spark, turns_pdf)), cfg)
    with detect_pairs(conv, cfg) as pairs:
        return {(r["conv_a"], r["conv_b"]) for r in pairs.filter("is_match").collect()}


def batch_components(spark, turns_pdf, cfg) -> dict:
    """conv_id -> component_id of one batch run over ``turns_pdf``."""
    conv = add_signatures(reconstruct_conversations(corpus_to_spark(spark, turns_pdf)), cfg)
    with detect_pairs(conv, cfg) as pairs:
        return {
            r["conv_id"]: r["component_id"]
            for r in connected_components(pairs.filter("is_match"), cfg).collect()
        }


@pytest.fixture(scope="module")
def split_corpus(spark, tmp_path_factory):
    """Corpus written as two parquet 'arrival' files; duplicate partners are
    deliberately split across the two files so cross-batch joins matter."""
    turns_pdf, truth = generate_corpus(120, seed=42)
    convs = sorted(turns_pdf.conv_id.unique())
    first = set(convs[::2])  # interleave: pairs land in different batches
    d = tmp_path_factory.mktemp("stream_in")
    sdf = corpus_to_spark(spark, turns_pdf)
    sdf.filter(sdf.conv_id.isin(first)).coalesce(1).write.parquet(str(d / "b0"))
    sdf.filter(~sdf.conv_id.isin(first)).coalesce(1).write.parquet(str(d / "b1"))
    return d, turns_pdf, truth


def test_incremental_equals_batch(spark, cfg, split_corpus, tmp_path):
    d, turns_pdf, truth = split_corpus
    out = tmp_path / "stream_state"
    sd = StreamingDedup(spark, str(out), cfg)

    # two explicit micro-batches (deterministic order; the foreachBatch path
    # is exactly what StreamingDedup.start wires up)
    b0 = spark.read.parquet(str(d / "b0"))
    b1 = spark.read.parquet(str(d / "b1"))
    sd.process_batch(b0, 0)
    sd.process_batch(b1, 1)

    got = {
        r["conv_id"]: r["component_id"]
        for r in sd.io.read(spark, "components").collect()
    }

    # batch reference: same corpus, all three detector arms
    assert got == batch_components(spark, turns_pdf, cfg)


def test_per_batch_writes_are_batch_sized(spark, cfg, split_corpus, tmp_path):
    """North-rule incrementality: each micro-batch WRITES O(batch) rows —
    conversation deltas equal the batch's conversation count, never the
    corpus (the round-1 design rewrote the full corpus per batch)."""
    d, turns_pdf, _ = split_corpus
    out = tmp_path / "state"
    sd = StreamingDedup(spark, str(out), cfg, compact_every=0)
    b0 = spark.read.parquet(str(d / "b0"))
    b1 = spark.read.parquet(str(d / "b1"))
    n0 = b0.select("conv_id").distinct().count()
    n1 = b1.select("conv_id").distinct().count()
    sd.process_batch(b0, 0)
    sd.process_batch(b1, 1)

    man = sd.io._load()["tables"]
    conv_snaps = man["conversations"]["snapshots"]
    assert [s["mode"] for s in conv_snaps] == ["append", "append"]
    assert [s["delta_rows"] for s in conv_snaps] == [n0, n1]
    # total readable rows = whole corpus exactly once
    assert sd.stored_conversations().count() == n0 + n1
    # pair/decision deltas exist per batch and are append-mode (O(batch))
    for t in ("candidate_pairs", "decisions", "components"):
        assert all(s["mode"] == "append" for s in man[t]["snapshots"])


def test_micro_batch_runs_the_stage_table(spark, cfg, split_corpus, tmp_path, monkeypatch):
    """Each non-empty micro-batch runs the four stages once, in order,
    through pipeline.run_stages, with a probe side once something is
    stored; an empty one runs none."""
    calls = []

    def recorder(frames, cfg, sink, *args):
        names: list = []
        calls.append((frames.get("probe") is not None, names))

        def recording(name, build):
            names.append(name)
            return sink(name, build)

        return pipeline.run_stages(frames, cfg, recording, *args)

    monkeypatch.setattr(streaming, "run_stages", recorder)
    d, _, _ = split_corpus
    b0 = spark.read.parquet(str(d / "b0"))
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=0)
    sd.process_batch(b0, 0)
    sd.process_batch(b0.limit(0), 1)
    sd.process_batch(spark.read.parquet(str(d / "b1")), 2)
    assert calls == [(False, list(pipeline.STAGES)), (True, list(pipeline.STAGES))]


def test_redelivery_and_compaction(spark, cfg, split_corpus, tmp_path):
    """Re-delivered conversations (changed content) are last-write-wins via
    equality-delete tombstones; affected components are re-solved (splits
    included); compaction folds the append chain and preserves the state."""
    import pandas as pd

    _, turns_pdf, _ = split_corpus
    # batch 0: full corpus; batch 1: re-deliver 10 conversations with edited
    # text (breaks some duplicate relationships -> component splits)
    convs = sorted(turns_pdf.conv_id.unique())
    redeliver = set(convs[3:40:4])
    edited = turns_pdf[turns_pdf.conv_id.isin(redeliver)].copy()
    edited["text"] = "EDITED DIVERGENT CONTENT " + edited["conv_id"] + " " + edited["turn_idx"].astype(str)
    final_pdf = pd.concat(
        [turns_pdf[~turns_pdf.conv_id.isin(redeliver)], edited], ignore_index=True
    )

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=2)
    sd.process_batch(corpus_to_spark(spark, turns_pdf), 0)
    sd.process_batch(corpus_to_spark(spark, edited), 1)  # triggers compaction

    # compaction folded each table to a single data path + empty tombstones
    man = sd.io._load()["tables"]
    assert len(sd.io.current_snapshot("conversations")["paths"]) == 1
    assert sd.io.current_snapshot("conv_deletes")["rows"] == 0

    got = {
        r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()
    }
    conv = add_signatures(
        reconstruct_conversations(corpus_to_spark(spark, final_pdf)), cfg
    )
    # decisions state matches the batch pipeline's decision KEY set
    from transcript_dedup.decide import find_conflicts, make_decisions

    with detect_pairs(conv, cfg) as pairs:
        want = {
            r["conv_id"]: r["component_id"]
            for r in connected_components(pairs.filter("is_match"), cfg).collect()
        }
        want_dec = {
            (r["group_id"], ",".join(r["keep"]), ",".join(r["delete"]), r["rule_applied"])
            for r in make_decisions(
                connected_components(pairs.filter("is_match"), cfg), conv, pairs, cfg
            ).collect()
        }
    assert got == want
    got_dec = {
        (r["group_id"], ",".join(r["keep"]), ",".join(r["delete"]), r["rule_applied"])
        for r in sd.stored_decisions().collect()
    }
    assert got_dec == want_dec
    assert find_conflicts(sd.stored_decisions()).count() == 0


def test_containment_pair_split_across_batches(spark, cfg, tmp_path):
    """VERDICT r2 #4: the substring arm is incremental — a containment pair
    whose inner and outer docs arrive in DIFFERENT micro-batches is found,
    in both directions (inner-first and outer-first)."""
    import datetime as dt

    import pandas as pd

    ts = dt.datetime(2026, 1, 1)
    inner1 = "the quick brown fox jumps over the lazy dog near the riverbank today"
    outer1 = "padding before the interesting part " + inner1 + " and plenty of trailing context afterwards"
    inner2 = "completely different marker sentence about spark shuffles and arrow batches"
    outer2 = "intro text " + inner2 + " closing remarks that make this conversation longer"

    def turns(conv_id, text):
        return (conv_id, 0, "user", text, "", ts)

    # batch 0: inner1 + outer2 (+ filler); batch 1: outer1 + inner2
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    b0 = pd.DataFrame(
        [turns("in1", inner1), turns("out2", outer2)]
        + [turns(f"f{i}", f"unrelated filler text number {i} with words") for i in range(4)],
        columns=cols,
    ).astype({"turn_idx": "int32"})
    b1 = pd.DataFrame(
        [turns("out1", outer1), turns("in2", inner2)],
        columns=cols,
    ).astype({"turn_idx": "int32"})

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg)
    sd.process_batch(corpus_to_spark(spark, b0), 0)
    sd.process_batch(corpus_to_spark(spark, b1), 1)

    pairs = {
        (r["conv_a"], r["conv_b"])
        for r in sd.stored_pairs().filter("is_match").collect()
    }
    assert ("in1", "out1") in pairs, pairs  # outer arrived after inner
    assert ("in2", "out2") in pairs, pairs  # inner arrived after outer
    comps = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    assert comps["in1"] == comps["out1"]
    assert comps["in2"] == comps["out2"]


def test_redelivered_representative_keeps_its_group_whole(spark, skewed_turns, tmp_path):
    """An exact group of more copies than band_key_cap whose representative
    (the string-min member, where its star edges meet) is re-delivered with
    other text. LSH salting splits the remaining copies into subgroups that
    never pair across, so only star edges around the next member keep them
    one component, as in a batch run over the final corpus."""
    import pandas as pd

    pdf, cfg = skewed_turns
    pdf = pdf[~pdf.conv_id.str.startswith("t")]  # 100 copies + 100 unique docs
    rep = pdf.conv_id.min()
    edited = pdf[pdf.conv_id == rep].assign(text="an edited text sharing nothing with the copies")
    assert (pdf.text == pdf[pdf.conv_id == rep].text.iloc[0]).sum() > cfg.band_key_cap
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=0)
    sd.process_batch(corpus_to_spark(spark, pdf), 0)
    sd.process_batch(corpus_to_spark(spark, edited), 1)
    got = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    final = pd.concat([pdf[pdf.conv_id != rep], edited], ignore_index=True)
    assert got == batch_components(spark, final, cfg)


@pytest.fixture(scope="module")
def skewed_stream(spark, skewed_turns, tmp_path_factory):
    """The skewed corpus (stop-bands and salted keys fire) delivered as two
    micro-batches of alternating sorted conv_id: (turns, second batch's
    conv_ids, config, stored components)."""
    pdf, cfg = skewed_turns
    first = set(sorted(pdf.conv_id.unique())[::2])
    b0, b1 = pdf[pdf.conv_id.isin(first)], pdf[~pdf.conv_id.isin(first)]
    sd = StreamingDedup(spark, str(tmp_path_factory.mktemp("skewed_state")), cfg, compact_every=0)
    sd.process_batch(corpus_to_spark(spark, b0), 0)
    sd.process_batch(corpus_to_spark(spark, b1), 1)
    got = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    return pdf, b0, set(b1.conv_id), cfg, got


def test_skewed_stream_equals_batch_per_microbatch(spark, skewed_stream):
    """The stored components are those of a batch run over the first batch
    plus, from a batch run over the whole corpus, the matched pairs touching
    the second batch's conversations. The streamed LSH arm must drop the
    template's stop-bands of the whole corpus to meet this; a copy that does
    not merges all 600 template docs."""
    pdf, b0, new, cfg, got = skewed_stream
    edges = matched_pairs(spark, b0, cfg) | {
        p for p in matched_pairs(spark, pdf, cfg) if new & set(p)
    }
    want = {
        r["conv_id"]: r["component_id"]
        for r in connected_components(
            spark.createDataFrame(sorted(edges), "conv_a string, conv_b string"), cfg
        ).collect()
    }
    assert got == want


@pytest.mark.xfail(
    strict=True,
    reason="committed pairs are not retracted: with 300 template docs the first "
    "batch's template band keys hold about 200 members, so some fall under "
    "band_key_drop and are salted, and the pairs they give stay stored after "
    "the whole corpus drops those keys (streaming module docstring)",
)
def test_skewed_stream_equals_batch(spark, skewed_stream):
    """The stored components equal one batch run over the whole corpus."""
    pdf, _, _, cfg, got = skewed_stream
    assert got == batch_components(spark, pdf, cfg)


@pytest.fixture(scope="module", params=["generated200", "skewed"])
def probed_conv(request, spark, turns200, cfg, skewed_turns):
    """(corpus name, persisted conversations, config, probe frame = every
    other sorted cid, the probe's cids)."""
    if request.param == "generated200":
        turns, c = turns200, cfg
    else:
        pdf, c = skewed_turns
        turns = corpus_to_spark(spark, pdf)
    conv = add_signatures(reconstruct_conversations(turns), c).persist()
    cids = sorted(r["cid"] for r in conv.select("cid").collect())
    probe = spark.createDataFrame([(x,) for x in cids[::2]], "cid long")
    yield request.param, conv, c, probe, set(cids[::2])
    conv.unpersist()


@pytest.mark.parametrize("arm", ARMS)
def test_probe_restricts_the_batch_output(probed_conv, arm):
    """arm(conv, probe=P) is exactly the batch arm(conv) restricted to the
    pairs with an endpoint in P, duplicates included."""
    corpus, conv, cfg, probe, p = probed_conv
    want = sorted(
        tuple(r)
        for r in ARMS[arm](conv, cfg, None).collect()
        if r["conv_a"] in p or r["conv_b"] in p
    )
    got = sorted(tuple(r) for r in ARMS[arm](conv, cfg, probe).collect())
    assert got == want
    # the skewed corpus has no containment pair
    assert want or (corpus, arm) == ("skewed", "substring")


def test_windowed_turn_counts_watermark(spark, tmp_path):
    """Native Structured Streaming path: tumbling-window rollup with a
    watermark — a row later than the watermark is DROPPED (bounded state),
    a closed window emits exactly once in append mode."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.streaming import TURNS_SCHEMA, windowed_turn_counts

    d = tmp_path / "in"
    os.makedirs(d)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / name))
        _time.sleep(0.3)  # distinct mod times -> deterministic batch order

    # batch 0: 3 rows in window 10:00-10:10 + 1 row at 12:00 that will push
    # the watermark (30 min delay) to 11:30 for batch 1
    write(
        "b0.parquet",
        [
            ("c1", 0, "u", "a", "", "2026-01-01 10:01:00"),
            ("c1", 1, "u", "b", "", "2026-01-01 10:02:00"),
            ("c2", 0, "u", "c", "", "2026-01-01 10:05:00"),
            ("c3", 0, "u", "d", "", "2026-01-01 12:00:00"),
        ],
    )
    # batch 1: advances the watermark to 12:30; the 10:00 window's state is
    # emitted + EVICTED here (append mode)
    write("b1.parquet", [("c5", 0, "u", "e", "", "2026-01-01 13:00:00")])
    # batch 2: a row for the long-closed 10:00 window — beyond the
    # watermark, state already evicted -> dropped by the engine (the
    # bounded-state late-data contract)
    write("b2.parquet", [("c4", 0, "u", "late", "", "2026-01-01 10:03:00")])

    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        windowed_turn_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        str(r["window_start"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # 10:00 window emitted once with the 3 on-time rows; 12:00 window with
    # 1; the 13:00 window never closed -> absent; the late row created no
    # duplicate 10:00 output row
    assert got == {"2026-01-01 10:00:00": 3, "2026-01-01 12:00:00": 1}, got
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, [p.get("stateOperators") for p in q.recentProgress]


def test_stream_api_runs(spark, cfg, split_corpus, tmp_path):
    """Drive the actual readStream/writeStream path with availableNow."""
    d, _, _ = split_corpus
    flat = tmp_path / "flat_in"
    os.makedirs(flat)
    # flatten both batch dirs into one input dir of parquet files
    import shutil

    for sub in ("b0", "b1"):
        for f in os.listdir(d / sub):
            if f.endswith(".parquet"):
                shutil.copy(d / sub / f, flat / f"{sub}_{f}")
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg)
    q = sd.start(str(flat), str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    dec = sd.io.read(spark, "decisions")
    assert dec.count() > 0
    from transcript_dedup.decide import find_conflicts

    assert find_conflicts(dec).count() == 0
