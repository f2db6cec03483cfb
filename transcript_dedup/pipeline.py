"""End-to-end pipeline orchestration with checkpoint/resume.

Stage graph (each stage commits one TableIO snapshot + one metrics row,
so a killed run resumes from the last committed stage — the scaled-out
version of the reference's scan-state resume,
/root/reference/src/index.ts:140-160, :186):

  turns --reconstruct+signatures--> conversations
        --exact+lsh+substring-----> candidate_pairs (verified + scored)
        --connected components----> components
        --rule cascade------------> decisions  (+ conflict invariant check)

Resume semantics: a stage is skipped iff its table's current snapshot was
committed with the same fingerprint = hash(input fingerprint, config,
upstream snapshot ids). Changing the config or the input invalidates
downstream stages automatically.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator
from contextlib import ExitStack, contextmanager
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cluster import connected_components
from .config import DedupConfig
from .decide import find_conflicts, make_decisions
from .detectors import (
    exact_candidates,
    lsh_candidates,
    release_key_caches,
    substring_candidates,
    verify_candidates,
)
from .io import TableIO
from .metrics import MetricsLog, StageTimer, partition_counts
from .reconstruct import reconstruct_conversations
from .signatures import KERNEL_VERSION, add_signatures, assert_cid_unique


def _fp(*parts) -> str:
    return hashlib.sha256("|".join(str(p) for p in parts).encode()).hexdigest()[:16]


@contextmanager
def detect_pairs(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    n_conv: int | None = None,
) -> Iterator[DataFrame]:
    """The pairs stage: exact ∪ LSH ∪ substring candidates -> verified,
    scored candidate_pairs (lazy). Every caller composes it here.

    Owns the stage's cache registry: the frames the detectors persist (LSH
    band keys when the hot-key pre-pass runs, the substring gram join and
    rarest-gram argmin) live until the ``with`` block exits, then are
    released whether the block succeeded or raised. Materialize (or write)
    the pairs inside the block::

        with detect_pairs(conv, cfg, counters, n_conv=n) as pairs:
            pairs = pairs.persist()
            pairs.count()

    ``n_conv`` is the corpus row count when the caller knows it (see
    lsh_candidates)."""
    caches: list[DataFrame] = []
    try:
        cand = (
            exact_candidates(conv)
            .unionByName(
                lsh_candidates(conv, cfg, counters, cache_registry=caches, n_conv=n_conv)
            )
            .unionByName(substring_candidates(conv, cfg, counters, cache_registry=caches))
        )
        yield verify_candidates(cand, conv, cfg)
    finally:
        release_key_caches(caches)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        cfg: DedupConfig | None = None,
        run_id: str = "run-0",
    ):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.io = TableIO(out_dir)
        self.metrics = MetricsLog(self.io, run_id)
        # KERNEL_VERSION in the fingerprint: a signature-kernel or conv-schema
        # change invalidates committed snapshots even when the config is
        # unchanged (a pre-change conversations snapshot would otherwise be
        # resumed with the wrong schema/signatures)
        self.cfg_fp = _fp(
            json.dumps(asdict(self.cfg), sort_keys=True, default=str), KERNEL_VERSION
        )

    # ------------------------------------------------------------------
    def _stage(self, name: str, fingerprint: str, build, rows_in, resume: bool):
        """Run one stage with resume + metrics; returns (df, snapshot_id).

        ``rows_in`` may be an int or a zero-arg callable — the callable is
        only invoked when the stage actually builds, so a fully-resumed
        ``run()`` never launches the input-count job (a full input scan at
        10^12 turns just to re-log a metrics field)."""
        if resume and self.io.has_fingerprint(name, fingerprint):
            snap = self.io.current_snapshot(name)
            return self.io.read(self.spark, name), snap["id"]
        t = StageTimer()
        counters: dict = {}
        df = build(counters)
        snap_id = self.io.write(df, name, fingerprint=fingerprint)
        out = self.io.read(self.spark, name)
        self.metrics.log_stage(
            name,
            snap_id,
            rows_in() if callable(rows_in) else rows_in,
            self.io.current_snapshot(name)["rows"],
            t.ms(),
            counters=counters,
            partitions=partition_counts(out),
        )
        return out, snap_id

    # ------------------------------------------------------------------
    def run(
        self,
        turns: DataFrame,
        input_fingerprint: str = "adhoc",
        resume: bool = True,
    ) -> dict:
        """Run (or resume) the full pipeline; returns dict of DataFrames."""
        cfg = self.cfg

        fp_conv = _fp("conversations", input_fingerprint, self.cfg_fp)
        conv, snap_conv = self._stage(
            "conversations",
            fp_conv,
            lambda c: add_signatures(reconstruct_conversations(turns), cfg),
            lambda: turns.count(),  # only counted when the stage builds
            resume,
        )

        # conv row count comes from the committed snapshot manifest — no job
        n_conv = self.io.current_snapshot("conversations")["rows"]

        fp_pairs = _fp("candidate_pairs", fp_conv, snap_conv)
        # the detector caches live until the pairs snapshot is committed (or
        # the stage failed): cache_scope closes right after the stage
        with ExitStack() as cache_scope:

            def build_pairs(counters):
                # id contract first: every detector keys on cid, so a (loud)
                # birthday collision must abort before any pair is emitted.
                # Runs only when the stage builds — a fully-resumed run
                # stays scanless.
                n = counters["n_conv_cid_checked"] = assert_cid_unique(conv)
                return cache_scope.enter_context(
                    detect_pairs(conv, cfg, counters, n_conv=n)
                )

            pairs, snap_pairs = self._stage(
                "candidate_pairs", fp_pairs, build_pairs, n_conv, resume
            )

        fp_comp = _fp("components", fp_pairs, snap_pairs)
        comps, snap_comp = self._stage(
            "components",
            fp_comp,
            lambda c: connected_components(pairs.filter("is_match"), cfg, c),
            self.io.current_snapshot("candidate_pairs")["rows"],
            resume,
        )

        fp_dec = _fp("decisions", fp_comp, snap_comp)
        decisions, _ = self._stage(
            "decisions",
            fp_dec,
            lambda c: make_decisions(comps, conv, pairs, cfg),
            self.io.current_snapshot("components")["rows"],
            resume,
        )

        conflicts = find_conflicts(decisions)
        n_conflicts = conflicts.count()
        if n_conflicts:
            raise AssertionError(
                f"keep/delete conflict invariant violated: {n_conflicts} files"
            )

        self.metrics.flush(self.spark)
        return {
            "conversations": conv,
            "candidate_pairs": pairs,
            "components": comps,
            "decisions": decisions,
        }


def run_dedup_dataframes(
    conv: DataFrame,
    cfg: DedupConfig | None = None,
) -> dict:
    """Pure-DataFrame composition of the detect->verify->cluster->decide
    stages (no TableIO, no metrics) — for embedding the engine in other
    dataflows (e.g. the driver's documents-table queries)."""
    from pyspark import StorageLevel

    cfg = cfg or DedupConfig()
    # persist, not localCheckpoint: a round-8 A/B replaced this with a
    # lineage-truncating localCheckpoint (1-node plan for the ~8 downstream
    # conv references) and measured the pinned 240k pairs job consistently
    # SLOWER (21.2/27.1 -> 23.3/32.5 s main-count job at T4, interleaved) —
    # the columnar InMemoryRelation cache out-reads the checkpointed
    # row-object RDD across the pairs job's 6-8 full conv passes, and the
    # driver-side planning the truncation saves is only ~1 s/run here.
    if conv.storageLevel == StorageLevel.NONE:
        conv = conv.persist()
    # materialize the cache NOW: the pairs job fans conv out into many
    # concurrent AQE query-stages, and racing past an unpopulated cache
    # recomputes the signature kernel once per racing stage (measured).
    # The action doubles as the cid-injectivity guard (loud abort on an
    # xxhash64 birthday collision — remediation: bump cfg.cid_seed).
    n_conv = assert_cid_unique(conv)
    # verified pairs feed three consumers (CC edges, decision confidence,
    # caller) — persist so the detector cascade runs exactly once; the
    # eager count materializes the cache (same AQE-race rationale as conv)
    # and lets the detector caches be released as the block exits
    with detect_pairs(conv, cfg, n_conv=n_conv) as pairs:
        pairs = pairs.persist()
        pairs.count()
    comps = connected_components(pairs.filter("is_match"), cfg)
    decisions = make_decisions(comps, conv, pairs, cfg)
    # n_conv rides along so callers (e.g. tools/bench_pipeline.py) don't pay a
    # second full-corpus count job for a number this run already computed;
    # conversations is the PERSISTED conv — callers joining against it
    # reuse the populated cache instead of recomputing the kernel
    return {
        "conversations": conv,
        "candidate_pairs": pairs,
        "components": comps,
        "decisions": decisions,
        "n_conv": n_conv,
    }


def closure_pairs(components: DataFrame) -> DataFrame:
    """All within-component pairs (the transitive-closure pair set the
    recall target is measured over — README.md:60 'Groups are built
    transitively')."""
    a = components.toDF("conv_a", "component_id")
    b = components.toDF("conv_b", "component_id")
    return (
        a.join(b, "component_id")
        .filter(F.col("conv_a") < F.col("conv_b"))
        .select("conv_a", "conv_b")
    )
