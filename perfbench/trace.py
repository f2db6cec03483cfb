"""The traced run: one job group per layer call, per-layer metrics from the
Spark event log.

Order, all in one session with the event log on:

1. the layer functions called one at a time, each persisted and counted:
   reconstruct, signatures, the three detectors, verify, connected
   components, decisions and the conflict check, TableIO writes,
   ``partition_counts`` and ``MetricsLog.flush``. Running first, these also
   warm the JVM, so the first layers carry its JIT cost;
2. ``DedupPipeline.run`` and a fully resumed rerun;
3. a stored base built by one ``StreamingDedup.process_batch``, one
   micro-batch of new conversations, cross-batch duplicates and re-delivered
   ids, and a compaction;
4. the tracing cost ``trace.overhead_s``: ``DedupPipeline.run`` over a
   corpus prefix with the event-log listener detached, then attached. Both
   are warm, and the job and task counts that set the event volume barely
   depend on corpus size.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager

import numpy as np

from perfbench.checks import DigestStore, decisions_digest
from perfbench.eventlog import GroupStats, read_event_log
from perfbench.harness import (
    WORK_ROOT,
    check_run,
    configure_environment,
    job_group,
    op_deadline,
    start_session,
    stop_session,
    write_input,
)


class Spans:
    """Wall-clock span per job group, in epoch seconds so that they line up
    with the event log's job times."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: dict[str, tuple[float, float]] = {}

    @contextmanager
    def __call__(self, name: str):
        with job_group(self.spark, name):
            t0 = time.time()
            try:
                yield
            finally:
                self.spans[name] = (t0, time.time())

    def wall(self, name: str) -> float:
        s, e = self.spans[name]
        return e - s


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.endswith(".json")
    )


def compose_layers(spark, span: Spans, turns, n_turns: int, input_bytes: int, work: str):
    """Step 1: every layer call on its own; returns (metrics, decisions
    digest, conversation count)."""
    from transcript_dedup.cluster import connected_components
    from transcript_dedup.config import DedupConfig
    from transcript_dedup.decide import find_conflicts, make_decisions
    from transcript_dedup.detectors import (
        exact_candidates,
        lsh_candidates,
        release_key_caches,
        substring_candidates,
        verify_candidates,
    )
    from transcript_dedup.io import TableIO
    from transcript_dedup.metrics import MetricsLog, partition_counts
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.signatures import add_signatures

    cfg = DedupConfig()
    counters: dict = {}
    m: dict = {}
    with span("reconstruct"):
        recon = reconstruct_conversations(turns).persist()
        n_conv = recon.count()
    with span("signatures"):
        conv = add_signatures(recon, cfg).persist()
        conv.count()
    recon.unpersist()
    with span("exact"):
        exact = exact_candidates(conv).persist()
        m["exact.candidates"] = exact.count()
    key_caches: list = []
    with span("lsh"):
        lsh = lsh_candidates(conv, cfg, counters, cache_registry=key_caches, n_conv=n_conv)
        lsh = lsh.persist()
        m["lsh.candidates"] = lsh.count()
    release_key_caches(key_caches)
    with span("substring"):
        sub = substring_candidates(conv, cfg, counters, verify_mode="instr").persist()
        m["substring.candidates"] = sub.count()
    with span("verify"):
        pairs = verify_candidates(exact.unionByName(lsh).unionByName(sub), conv, cfg).persist()
        pairs.count()
        matched = pairs.filter("is_match").count()
    with span("cluster"):
        comps = connected_components(pairs.filter("is_match"), cfg, counters).persist()
        comps.count()
    with span("decide"):
        decisions = make_decisions(comps, conv, pairs, cfg).persist()
        m["decide.groups"] = decisions.count()
    with span("decide.conflicts"):
        conflicts = find_conflicts(decisions).count()
    if conflicts:
        raise AssertionError(f"keep/delete conflicts in composed decisions: {conflicts}")
    digest = decisions_digest(decisions.toPandas())

    tables = {
        "conversations": conv,
        "candidate_pairs": pairs,
        "components": comps,
        "decisions": decisions,
    }
    io = TableIO(os.path.join(work, "layers"))
    with span("io"):
        snaps = {name: io.write(df, name) for name, df in tables.items()}
    with span("metrics.partition_counts"):
        parts = {name: partition_counts(io.read(spark, name)) for name in tables}
    log = MetricsLog(io, "trace")
    for name, df in tables.items():
        rows = io.current_snapshot(name)["rows"]
        log.log_stage(name, snaps[name], rows, rows, 0.0, counters, parts[name])
    with span("metrics.flush"):
        log.flush(spark)
    for df in (exact, lsh, sub, *tables.values()):
        df.unpersist()

    pairs_in = m["exact.candidates"] + m["lsh.candidates"] + m["substring.candidates"]
    written = _dir_bytes(io.base_dir) - _dir_bytes(os.path.join(io.base_dir, "pipeline_runs"))
    m.update(
        {
            "reconstruct.rows_in": float(n_turns),
            "reconstruct.rows_out": float(n_conv),
            "lsh.stop_band_keys": float(counters.get("lsh_stop_band_keys", 0)),
            "lsh.salted_keys": float(counters.get("lsh_salted_keys", 0)),
            "substring.stop_grams": float(counters.get("substring_stop_grams", 0)),
            "substring.tiny_docs": float(counters.get("substring_tiny_docs", 0)),
            "verify.pairs_in": float(pairs_in),
            "verify.matched": float(matched),
            "verify.accept_ratio": matched / max(pairs_in, 1),
            "cluster.edges": float(matched),
            "cluster.iterations": float(counters.get("cc_iterations", 0)),
            "io.bytes_written": float(written),
            "io.write_amp": written / input_bytes,
        }
    )
    return m, digest, n_conv


def detach_event_log(spark):
    """Take the event-log listener off the listener bus; returns a function
    that puts it back. Used to time one run without tracing in the same
    session."""
    sc = spark.sparkContext._jsc.sc()
    listener = sc.eventLogger().get()
    sc.removeSparkListener(listener)
    return lambda: sc.listenerBus().addToEventLogQueue(listener)


def traced_run(args, corpus, work, log) -> dict:
    from transcript_dedup.config import DedupConfig
    from transcript_dedup.decide import find_conflicts
    from transcript_dedup.generate import corpus_to_spark
    from transcript_dedup.pipeline import DedupPipeline
    from transcript_dedup.streaming import StreamingDedup

    from perfbench.workloads import prefix_turns, streaming_batches

    tmp = configure_environment(work)
    turns_path, input_bytes = write_input(corpus, work)
    digests = DigestStore(os.path.join(WORK_ROOT, "digests.json"))
    key = f"{args.workload}:{args.seed}:{corpus.n_conv}"
    event_log = os.path.join(work, "eventlog")
    cfg = DedupConfig()
    attempted = failed = 0

    def verdict(name: str, passed: bool) -> None:
        nonlocal attempted, failed
        attempted += 1
        if not passed:
            failed += 1
            log(f"check FAILED: {name}")

    spark, m = start_session(work, tmp, event_log)
    span = Spans(spark)
    try:
        with op_deadline(spark):
            turns = spark.read.parquet(turns_path)
            layer_m, layer_digest, n_conv = compose_layers(
                spark, span, turns, len(corpus.turns), input_bytes, work
            )
            m.update(layer_m)

            out = os.path.join(work, "pipeline")
            with span("pipeline"):
                result = DedupPipeline(spark, out, cfg).run(turns, input_fingerprint=key)
            with span("pipeline.resume"):
                resumed = DedupPipeline(spark, out, cfg).run(turns, input_fingerprint=key)
            checked = check_run(result, corpus, digests, key, log)
            verdict("traced DedupPipeline.run", checked.repeats)
            for name, digest in (
                ("composed layers", layer_digest),
                ("resumed rerun", decisions_digest(resumed["decisions"].toPandas())),
            ):
                verdict(f"{name} decisions equal the pipeline's", digest == checked.digest)

            base, batch = streaming_batches(corpus, np.random.default_rng([args.seed, 2]))
            sd = StreamingDedup(spark, os.path.join(work, "stream"), cfg, compact_every=0)
            with span("streaming.base"):
                sd.process_batch(corpus_to_spark(spark, base), 0)
            with span("streaming.batch"):
                sd.process_batch(corpus_to_spark(spark, batch), 1)
            m["streaming.append_chain_len"] = float(
                len(sd.io.current_snapshot("conversations")["paths"])
            )
            with span("streaming.compact"):
                sd.compact()
            verdict(
                "streamed decisions keep/delete disjoint",
                find_conflicts(sd.stored_decisions()).isEmpty(),
            )

            prefix = corpus_to_spark(spark, prefix_turns(corpus))
            reattach = detach_event_log(spark)
            t0 = time.perf_counter()
            DedupPipeline(spark, os.path.join(work, "untraced"), cfg).run(prefix)
            untraced_s = time.perf_counter() - t0
            reattach()
            with span("trace.prefix"):
                DedupPipeline(spark, os.path.join(work, "traced"), cfg).run(prefix)
            m["trace.overhead_s"] = span.wall("trace.prefix") - untraced_s
    except Exception:
        log(traceback.format_exc())
        verdict("traced run raised", False)
        return {"attempted": attempted, "failed": failed, "metrics": m}
    finally:
        log("spans " + ", ".join(f"{k}={e - s:.1f}" for k, (s, e) in span.spans.items()))
        stop_session(spark)

    groups = read_event_log(event_log)

    def g(name: str) -> GroupStats:
        return groups.get(name, GroupStats())

    wall = span.wall
    pipe, resume, batch_g = g("pipeline"), g("pipeline.resume"), g("streaming.batch")
    m.update(
        {
            "reconstruct.wall_s": wall("reconstruct"),
            "reconstruct.shuffle_mb": g("reconstruct").shuffle_mb,
            "signatures.wall_s": wall("signatures"),
            "signatures.core_s": g("signatures").core_s,
            "signatures.us_per_conv": g("signatures").core_s * 1e6 / n_conv,
            "exact.wall_s": wall("exact"),
            "lsh.wall_s": wall("lsh"),
            "lsh.core_s": g("lsh").core_s,
            "lsh.shuffle_mb": g("lsh").shuffle_mb,
            "substring.wall_s": wall("substring"),
            "substring.core_s": g("substring").core_s,
            "verify.wall_s": wall("verify"),
            "verify.core_s": g("verify").core_s,
            "verify.shuffle_mb": g("verify").shuffle_mb,
            "cluster.wall_s": wall("cluster"),
            "decide.wall_s": wall("decide"),
            "decide.conflict_check_s": wall("decide.conflicts"),
            "io.write_s": wall("io"),
            "metrics.partition_counts_s": wall("metrics.partition_counts"),
            "metrics.flush_s": wall("metrics.flush"),
            "pipeline.wall_s": wall("pipeline"),
            "pipeline.jobs": float(pipe.jobs),
            "pipeline.stages": float(pipe.stages),
            "pipeline.tasks": float(pipe.tasks),
            "pipeline.job_gap_s": pipe.gap_s(*span.spans["pipeline"]),
            "pipeline.core_s": pipe.core_s,
            "pipeline.spill_mb": pipe.spill_mb,
            "pipeline.gc_s": pipe.gc_s,
            "pipeline.resume_s": wall("pipeline.resume"),
            "pipeline.resume_jobs": float(resume.jobs),
            "streaming.base_s": wall("streaming.base"),
            "streaming.batch_s": wall("streaming.batch"),
            "streaming.batch_jobs": float(batch_g.jobs),
            "streaming.batch_core_s": batch_g.core_s,
            "streaming.job_gap_s": batch_g.gap_s(*span.spans["streaming.batch"]),
            "streaming.compact_s": wall("streaming.compact"),
            "trace.prefix_s": wall("trace.prefix"),
        }
    )
    return {"attempted": attempted, "failed": failed, "metrics": m}
