"""End-to-end pipeline: one stage sequence, three sinks.

Every caller runs the same four stages in order (``run_stages``):

  turns --reconstruct+signatures--> conversations
        --exact+lsh+substring-----> candidate_pairs (verified + scored)
        --connected components----> components
        --rule cascade------------> decisions

Each stage's output goes to the caller's sink, ``sink(name, build)``, which
returns the frame the later stages read:

  TableIO sink (DedupPipeline.run): each stage commits one TableIO snapshot
      + one metrics row, so a killed run resumes from the last committed
      stage (the scaled-out version of the reference's scan-state resume,
      /root/reference/src/index.ts:140-160, :186); the keep/delete
      conflict invariant is checked after decisions. A commit is one Spark
      job, the write: row counts come from the written parquet footers,
      counters from observations the write collects (metrics.Observed).
  in-memory sink (run_dedup_dataframes): conversations and candidate_pairs
      are persisted, components and decisions stay lazy — for embedding
      the engine in other dataflows (e.g. the driver's queries).
  streaming sink (streaming.StreamingDedup.process_batch): each stage
      appends a micro-batch's delta plus tombstones; the pairs stage probes
      with the new conversations and hands on only the pairs of the
      components they touch.

A stage's cache scope closes as soon as its sink returns, so the detector
caches live exactly until the pairs are committed.

Resume semantics: a stage is skipped iff its table's current snapshot was
committed with the same fingerprint = hash(stage, upstream fingerprint,
upstream snapshot id), rooted at the input fingerprint and the config.
Changing the config or the input invalidates downstream stages.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable, Iterator
from contextlib import ExitStack, contextmanager
from dataclasses import asdict
from functools import reduce

from pyspark import StorageLevel
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
from .metrics import MetricsLog, Observed, StageTimer, observe
from .reconstruct import reconstruct_conversations
from .signatures import KERNEL_VERSION, add_signatures, assert_cid_unique

STAGES = ("conversations", "candidate_pairs", "components", "decisions")
DETECTORS = ("exact", "lsh", "substring")

# sink(stage name, build) -> the frame later stages read; build(counters)
# constructs the stage, counters=None meaning "collect no counters"
Sink = Callable[[str, Callable[[dict | None], DataFrame]], DataFrame]


def _fp(*parts) -> str:
    return hashlib.sha256("|".join(str(p) for p in parts).encode()).hexdigest()[:16]


@contextmanager
def detect_pairs(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    n_conv: int | None = None,
    detectors: tuple[str, ...] = DETECTORS,
    probe: DataFrame | None = None,
) -> Iterator[DataFrame]:
    """The pairs stage: exact ∪ LSH ∪ substring candidates -> verified,
    scored candidate_pairs (lazy). Every caller composes it here;
    ``detectors`` picks a non-empty subset of ``DETECTORS``.

    Owns the stage's cache registry: the frames the detectors persist (LSH
    band keys when the hot-key pre-pass runs, the substring gram join and
    rarest-gram argmin) live until the ``with`` block exits, then are
    released whether the block succeeded or raised. Materialize (or write)
    the pairs inside the block::

        with detect_pairs(conv, cfg, counters, n_conv=n) as pairs:
            pairs = pairs.persist()
            pairs.count()

    ``n_conv`` is the corpus row count when the caller knows it (see
    lsh_candidates).

    ``probe`` (optional) is a frame of cids, the new conversations of a
    micro-batch (streaming.StreamingDedup). ``conv`` stays the build side:
    every block statistic (key sizes, stop-bands, salts, gram document
    frequencies) is computed over it as in a batch run, and verify hydrates
    from it; only the blocks holding a probe row are expanded, and the
    output is exactly the batch output restricted to the pairs with at
    least one endpoint in the probe. ``None`` is the batch run."""
    if not detectors or set(detectors) - set(DETECTORS):
        raise ValueError(f"detectors must be a non-empty subset of {DETECTORS}: {detectors!r}")
    caches: list[DataFrame] = []
    arms = {
        "exact": lambda: exact_candidates(conv, probe=probe),
        "lsh": lambda: lsh_candidates(
            conv, cfg, counters, cache_registry=caches, n_conv=n_conv, probe=probe
        ),
        "substring": lambda: substring_candidates(
            conv, cfg, counters, cache_registry=caches, probe=probe
        ),
    }
    try:
        cand = reduce(DataFrame.unionByName, [arms[d]() for d in DETECTORS if d in detectors])
        yield verify_candidates(cand, conv, cfg)
    finally:
        release_key_caches(caches)


def run_stages(
    frames: dict, cfg: DedupConfig, sink: Sink, detectors: tuple[str, ...] = DETECTORS
) -> dict:
    """Run the four stages in order, each through ``sink``, which returns
    the frame the later stages read (the committed table, for the TableIO
    and in-memory sinks). ``frames`` holds the input — ``turns``, or
    ``conversations`` already built, and optionally ``probe``, the cids the
    pairs must touch (see detect_pairs) — and gains every stage's frame,
    plus ``n_conv`` if pairs built."""

    def conversations(counters, scope):
        if "conversations" in frames:
            return frames["conversations"]
        return add_signatures(reconstruct_conversations(frames["turns"]), cfg)

    def candidate_pairs(counters, scope):
        conv = frames["conversations"]
        # id contract first: every detector keys on cid, so a (loud) xxhash64
        # birthday collision aborts before any pair is emitted (remediation:
        # bump cfg.cid_seed). Runs only when the stage builds. It also
        # materializes a persisted conv before the pairs job races many AQE
        # query-stages past an unpopulated cache (each recomputes the kernel)
        n = frames["n_conv"] = assert_cid_unique(conv)
        if counters is not None:
            counters["n_conv_cid_checked"] = n
        return scope.enter_context(
            detect_pairs(
                conv, cfg, counters, n_conv=n, detectors=detectors, probe=frames.get("probe")
            )
        )

    def components(counters, scope):
        return connected_components(frames["candidate_pairs"].filter("is_match"), cfg, counters)

    def decisions(counters, scope):
        return make_decisions(
            frames["components"], frames["conversations"], frames["candidate_pairs"], cfg
        )

    for name, build in zip(STAGES, (conversations, candidate_pairs, components, decisions)):
        # the stage's cache scope closes once the sink has committed it
        with ExitStack() as scope:
            frames[name] = sink(name, lambda counters: build(counters, scope))
    return frames


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
    def _table_sink(self, rows_in: Observed, input_fingerprint: str, resume: bool) -> Sink:
        """The TableIO sink: resume a stage whose current snapshot carries
        its fingerprint, else build it, commit a snapshot and log its
        metrics row. A commit is the stage's write job and nothing else:
        rows and per-file rows come from the written files' footers and
        detector counters from observations on that write. A stage's
        ``rows_in`` is the previous stage's committed rows; the first
        stage's is ``rows_in``, observed on the turns, so it is read only
        when conversations builds and a fully-resumed ``run()`` stays
        scanless."""
        upstream = (input_fingerprint, self.cfg_fp)

        def commit(name, build):
            nonlocal upstream, rows_in
            fp = _fp(name, *upstream)
            snap = self.io.current_snapshot(name) if resume else None
            if snap is None or snap.get("fingerprint") != fp:
                t = StageTimer()
                counters: dict = {}
                snap = self.io.write(build(counters), name, fingerprint=fp)
                self.metrics.log_stage(
                    name,
                    snap["id"],
                    rows_in,
                    snap["rows"],
                    t.ms(),
                    counters=counters,
                    partitions=snap["file_rows"],
                )
            upstream, rows_in = (fp, snap["id"]), snap["rows"]
            return self.io.read_snapshot(self.spark, snap)

        return commit

    # ------------------------------------------------------------------
    def run(self, turns: DataFrame, input_fingerprint: str = "adhoc", resume: bool = True) -> dict:
        """Run (or resume) the full pipeline; returns dict of DataFrames."""
        turns, n_turns = observe(turns, rows="count(1)")
        frames = run_stages(
            {"turns": turns},
            self.cfg,
            self._table_sink(n_turns["rows"], input_fingerprint, resume),
        )
        n_conflicts = find_conflicts(frames["decisions"]).count()
        if n_conflicts:
            raise AssertionError(
                f"keep/delete conflict invariant violated: {n_conflicts} files"
            )
        self.metrics.flush(self.spark)
        return {name: frames[name] for name in STAGES}


def _in_memory(name: str, build) -> DataFrame:
    """The sink of run_dedup_dataframes: no TableIO, no metrics, no
    counters."""
    df = build(None)
    if name == "conversations" and df.storageLevel == StorageLevel.NONE:
        # persist, not localCheckpoint: a round-8 A/B measured the pinned
        # 240k pairs job consistently SLOWER with the lineage-truncating
        # checkpoint (21.2/27.1 -> 23.3/32.5 s main-count job at T4) — the
        # columnar cache out-reads the row-object RDD across the pairs job's
        # 6-8 full conv passes; truncation saves only ~1 s/run of planning.
        df = df.persist()
    elif name == "candidate_pairs":
        # verified pairs feed CC edges, decision confidence and the caller —
        # persist so the detectors run once; the eager count fills the cache
        # while the detector caches are still in scope
        df = df.persist()
        df.count()
    return df


def run_dedup_dataframes(
    conv: DataFrame,
    cfg: DedupConfig | None = None,
    detectors: tuple[str, ...] = DETECTORS,
) -> dict:
    """The stages over built conversations through the in-memory sink —
    for embedding the engine in other dataflows (e.g. the driver's
    queries). ``detectors`` as in detect_pairs.

    Returns the four stage frames plus ``n_conv``, so callers (e.g.
    tools/bench_pipeline.py) pay no second full-corpus count; conversations
    is the PERSISTED conv, so joins against it reuse the populated cache."""
    return run_stages({"conversations": conv}, cfg or DedupConfig(), _in_memory, detectors)


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
