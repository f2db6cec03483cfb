#!/usr/bin/env python3
"""Benchmark of the transcript_dedup engine, driven through its public API.

    python3 perfbench/run.py --workload small --seed 7 --seconds 1 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the metric
names and units are the ones ``BENCHMARK.json`` lists.

``--trace 0`` (timed run). Set-up is ``setup_s``: session start, native
kernel load, Python worker prewarm, and the warm-up run that
tools/bench_pipeline.py uses (the batch dataflow over 50 conversations).
Then ``DedupPipeline.run`` calls over the seeded corpus repeat until
``--seconds`` have passed, at least one; ``wall_s`` is their median. Each
call writes a fresh output directory, so none resumes.

``--trace 1`` (traced run, see trace.py) starts the session with the Spark
event log on, calls the engine's layers one at a time under one job group
each, then ``DedupPipeline.run``, a fully resumed rerun and two
``StreamingDedup.process_batch`` calls. ``eventlog.py`` folds the log into
the per-layer metrics.

Both modes check the outputs against the generator's truth (planted-pair
recall, cross-family merges) and require the decisions digest to repeat
for a seed across runs in one checkout; the traced run also requires the
composed layers, the pipeline and its resumed rerun to decide identically.

Everything the run writes stays under ``.bench_build/perfbench`` in the
checkout. ``--scale N`` divides the corpus sizes (smoke tests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=int, default=1, help="divide corpus sizes (smoke tests)")
    return p.parse_args(argv)


def timed_run(args, corpus, work, log) -> dict:
    from transcript_dedup.config import DedupConfig
    from transcript_dedup.pipeline import DedupPipeline

    from perfbench.checks import DigestStore
    from perfbench.harness import (
        WORK_ROOT,
        RssSampler,
        check_run,
        configure_environment,
        op_deadline,
        start_session,
        stop_session,
        warm_up,
        write_input,
    )

    tmp = configure_environment(work)
    turns_path, _ = write_input(corpus, work)
    digests = DigestStore(os.path.join(WORK_ROOT, "digests.json"))
    key = f"{args.workload}:{args.seed}:{corpus.n_conv}"
    walls, checks = [], []
    attempted = failed = 0
    with RssSampler() as rss:
        spark, setup = start_session(work, tmp, None)
        try:
            setup["warmup_s"] = warm_up(spark, corpus)
            t_end = time.perf_counter() + args.seconds
            while not failed and (attempted == 0 or time.perf_counter() < t_end):
                attempted += 1
                try:
                    with op_deadline(spark):
                        t0 = time.perf_counter()
                        result = DedupPipeline(
                            spark, os.path.join(work, f"out-{attempted}"), DedupConfig()
                        ).run(spark.read.parquet(turns_path), input_fingerprint=key)
                        wall = time.perf_counter() - t0
                    checked = check_run(result, corpus, digests, key, log)
                except Exception:
                    log(traceback.format_exc())
                    checked = None
                if checked and checked.repeats:
                    walls.append(wall)
                    checks.append(checked)
                else:
                    failed += 1
        finally:
            stop_session(spark)
    log(f"setup {json.dumps(setup)}; walls {walls}")
    metrics = {
        "setup_s": setup["session.start_s"] + setup["session.kernel_s"]
        + setup["session.prewarm_s"] + setup["warmup_s"],
        "peak_rss_mb": rss.peak_mb,
    }
    if walls:
        wall = statistics.median(walls)
        metrics.update(
            {
                "wall_s": wall,
                "convs_per_s": corpus.n_conv / wall,
                "dup_pair_recall": statistics.median(c.recall for c in checks),
            }
        )
    # 0 on a healthy run, so not end-to-end metrics of BENCHMARK.json (whose
    # metrics are never 0); printed here by name and unit
    print(
        f"false_merge_pairs {max((c.false_merges for c in checks), default=-1)} count; "
        f"failed_ops_frac {failed / attempted} ratio"
    )
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "transcript_dedup")):
        print(f"perfbench: no transcript_dedup package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import WORK_ROOT
    from perfbench.workloads import make_corpus

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}

    def log(msg):
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus = make_corpus(args.workload, args.seed, args.scale)
        log(f"{args.workload} seed={args.seed}: {corpus.n_conv} convs, {len(corpus.turns)} turns")
        if args.trace:
            from perfbench.trace import traced_run

            out = traced_run(args, corpus, work, log)
        else:
            out = timed_run(args, corpus, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"process time {time.monotonic() - t_start:.1f} s")
    missing = sorted(set(units) - set(out["metrics"]))
    correct = out["failed"] == 0 and not missing
    if missing:
        log(f"metrics not measured: {missing}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {
                    n: {"value": out["metrics"][n], "unit": u}
                    for n, u in units.items()
                    if n in out["metrics"]
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
