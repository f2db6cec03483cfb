"""Incremental dedup via Structured Streaming (foreachBatch).

The reference is batch-only with file-based resume (SURVEY.md 2.10); the
engine's snapshot/anti-join resume covers that. This module adds the
streaming growth path with **O(batch) state maintenance per micro-batch**:

  - detection runs new-vs-all through the batch detectors
    (pipeline.detect_pairs) with the NEW conversations as the probe side:
    block statistics (content-hash groups, LSH key sizes with the hot-key
    pre-pass, stop-band drop and salting, gram document frequencies) are
    computed over the stored corpus plus the batch exactly as in a batch
    run, only the blocks holding a new conversation are expanded, and only
    the pairs touching one are emitted. The first batch (no stored corpus)
    is a batch run. An exact group's representative re-delivered with other
    text brings the group's other members into the batch, so its star edges
    are rebuilt around the next member (detectors.exact.orphaned_members);
  - state tables are APPEND-ONLY deltas (TableIO mode='append' writes only
    the batch's rows) plus tiny equality-delete tombstone tables — the
    Iceberg equality-delete pattern. A reader resolves
    ``row._seq >= max(tombstone._seq)`` per key; tombstones only exist for
    re-delivered conversations and re-clustered components, so they stay
    O(churn), and periodic compaction (``compact_every``) folds the chain
    back into a single snapshot;
  - connected components run INCREMENTALLY: only components touched by new
    edges or re-delivered conversations are re-solved (merge AND split are
    handled, because the affected subgraph is re-clustered from its valid
    pairs), and only their membership/decision rows are rewritten.

Limitation: pairs that an earlier batch committed are not recomputed. A
band key that new conversations push past ``band_key_drop`` (or a gram past
``substring_gram_maxdf``) is dropped from then on, but the pairs it gave
while it was smaller stay stored, where a batch run over the final corpus
would not emit them; the same holds for a key whose salt count grows
(tests/test_streaming.py::test_skewed_stream_equals_batch, a strict xfail).

Structured Streaming's checkpointLocation provides exactly-once micro-batch
tracking on top; a stream can take over from a batch bootstrap because the
state lives in the same TableIO tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cluster import connected_components
from .config import DedupConfig
from .decide import make_decisions
from .detectors.exact import orphaned_members
from .io import TableIO
from .pipeline import detect_pairs
from .reconstruct import reconstruct_conversations
from .signatures import add_signatures, assert_cid_unique

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class StreamingDedup:
    """Incremental state layout (all through TableIO):

    conversations      +_seq   append-only conv deltas
    conv_deletes               (conv_id, _seq) — re-delivered ids, orphaned members
    candidate_pairs    +_seq   append-only verified-pair deltas
    components         +_seq   append-only (conv_id, component_id) deltas
    component_deletes          (conv_id, _seq) — membership invalidations
    decisions          +_seq   append-only decision deltas
    decision_deletes           (group_id, _seq) — decision invalidations
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        cfg: DedupConfig | None = None,
        compact_every: int = 8,
    ):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.io = TableIO(out_dir)
        self.compact_every = compact_every

    # -- tombstone-resolving readers --------------------------------------
    def _tombstones(self, table: str) -> DataFrame | None:
        if self.io.current_snapshot(table) is None:
            return None
        t = self.io.read(self.spark, table)
        key = t.columns[0]  # conv_id / group_id
        return t.groupBy(key).agg(F.max("_seq").alias("_del_seq"))

    def _resolve(self, rows: DataFrame, tomb: DataFrame | None, keys: list[str]) -> DataFrame:
        """Equality-delete resolution: drop rows older than a tombstone on
        any of ``keys``. Tombstone sets are O(churn) -> broadcast joins."""
        if tomb is None:
            return rows
        for k in keys:
            t = tomb.withColumnRenamed(tomb.columns[0], k).withColumnRenamed(
                "_del_seq", f"_del_{k}"
            )
            rows = rows.join(F.broadcast(t), k, "left").filter(
                F.col(f"_del_{k}").isNull() | (F.col("_seq") >= F.col(f"_del_{k}"))
            ).drop(f"_del_{k}")
        return rows

    def _read_state(self, table: str, tomb_table: str, keys: list[str]) -> DataFrame | None:
        if self.io.current_snapshot(table) is None:
            return None
        rows = self.io.read(self.spark, table)
        return self._resolve(rows, self._tombstones(tomb_table), keys)

    def stored_conversations(self) -> DataFrame | None:
        return self._read_state("conversations", "conv_deletes", ["conv_id"])

    def stored_pairs(self) -> DataFrame | None:
        return self._read_state("candidate_pairs", "conv_deletes", ["conv_a", "conv_b"])

    def stored_components(self) -> DataFrame | None:
        return self._read_state("components", "component_deletes", ["conv_id"])

    def stored_decisions(self) -> DataFrame | None:
        return self._read_state("decisions", "decision_deletes", ["group_id"])

    # -- one micro-batch ----------------------------------------------------
    def process_batch(self, turns_batch: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        seq = F.lit(int(batch_id)).cast("long")
        new = add_signatures(reconstruct_conversations(turns_batch), cfg).persist()
        cached = [new]  # released when the batch is done
        if new.isEmpty():
            new.unpersist()  # empty micro-batches must not leak cache blocks
            return
        stored = self.stored_conversations()

        # ---- conversations: O(batch) delta + tombstones for re-delivery --
        if stored is not None:
            # re-delivered ids, with the content hash they were stored with
            again = (
                new.select("conv_id", "content_hash")
                .join(stored.selectExpr("conv_id", "content_hash AS old_hash"), "conv_id")
                .persist()
            )
            cached.append(again)
            n_redelivered, n_rehashed = again.selectExpr(
                "count(1)", "count_if(content_hash != old_hash)"
            ).first()
            redelivered = again.select("conv_id")
            if n_rehashed:
                # an exact group whose representative changed text loses the
                # star edges anchored on it: its other members are delivered
                # again too, so their pairs are rebuilt around the next member.
                # Checkpointed, not cached, for the reason given at new_pairs below
                orphans = orphaned_members(stored, new).drop("_seq").localCheckpoint()
                new = new.unionByName(orphans)
                redelivered = redelivered.unionByName(orphans.select("conv_id"))
            stored_live = stored.join(redelivered, "conv_id", "left_anti")
            all_ = stored_live.drop("_seq").unionByName(new).persist()
            cached.append(all_)
        else:
            redelivered = None
            n_redelivered = 0
            all_ = new
        self.io.write(new.withColumn("_seq", seq), "conversations", mode="append")
        if n_redelivered:
            self.io.write(
                redelivered.withColumn("_seq", seq), "conv_deletes", mode="append"
            )

        # ---- new-vs-all detector pass -------------------------------------
        # same cid injectivity contract the batch pipeline asserts per pairs
        # job: all_ is new ∪ stored-live, exactly the id space the detectors
        # key on, so a cross-batch xxhash64 collision aborts loudly here
        # instead of emitting a false duplicate pair
        n = assert_cid_unique(all_)
        probe = None if stored is None else new.select("cid")
        # the pairs are written inside the block: the detector caches are
        # released when it exits, on success and on failure
        with detect_pairs(all_, cfg, n_conv=n, probe=probe) as pairs:
            snap = self.io.write(pairs.withColumn("_seq", seq), "candidate_pairs", mode="append")
        # read back, not cached: a cached frame nests its whole plan into every
        # plan that reads it, and planning the CC and decision jobs over the
        # detector plan costs more than running the detectors
        delta = {**snap, "paths": snap["paths"][-1:]}
        new_pairs = TableIO.read_snapshot(self.spark, delta).drop("_seq")

        # ---- incremental connected components -----------------------------
        # touched = endpoints of new matched edges + re-delivered convs;
        # affected components = stored components containing any touched node
        new_matched = new_pairs.filter("is_match").select("conv_a", "conv_b").persist()
        touched = (
            new_matched.select(F.col("conv_a").alias("conv_id"))
            .unionByName(new_matched.select(F.col("conv_b").alias("conv_id")))
        )
        if redelivered is not None:
            touched = touched.unionByName(redelivered)
        touched = touched.distinct()

        prev_comps = self.stored_components()
        if prev_comps is not None:
            affected_ids = (
                prev_comps.join(touched, "conv_id", "left_semi")
                .select("component_id")
                .distinct()
            )
            affected_members = prev_comps.join(
                F.broadcast(affected_ids), "component_id", "left_semi"
            ).select("conv_id")
            # valid stored matched pairs inside affected components
            sp = self.stored_pairs()
            sub_stored = sp.filter("is_match").join(
                F.broadcast(affected_members.withColumnRenamed("conv_id", "conv_a")),
                "conv_a",
                "left_semi",
            )
            sub_pairs = sub_stored.select("conv_a", "conv_b").unionByName(new_matched)
            all_affected = affected_members.unionByName(
                touched
            ).distinct()
        else:
            affected_members = None
            sub_pairs = new_matched
            sub_stored = None
            all_affected = touched

        comps_new = connected_components(sub_pairs, cfg).persist()

        # membership tombstones: every node whose component was re-solved
        self.io.write(
            all_affected.withColumn("_seq", seq), "component_deletes", mode="append"
        )
        self.io.write(comps_new.withColumn("_seq", seq), "components", mode="append")

        # ---- decisions for the re-solved components only -------------------
        pairs_for_conf = (
            new_pairs if sub_stored is None
            else sub_stored.select(*new_pairs.columns).unionByName(new_pairs)
        )
        dec_new = make_decisions(comps_new, all_, pairs_for_conf, cfg)
        old_groups = (
            affected_ids.withColumnRenamed("component_id", "group_id")
            if prev_comps is not None
            # empty frames come from a range: one built from a Python list
            # costs a Python worker pass in every job that reads it
            else self.spark.range(0).selectExpr("CAST(id AS STRING) AS group_id")
        )
        dead_groups = old_groups.unionByName(
            dec_new.select("group_id")
        ).distinct()
        self.io.write(dead_groups.withColumn("_seq", seq), "decision_deletes", mode="append")
        self.io.write(dec_new.withColumn("_seq", seq), "decisions", mode="append")

        # ---- periodic compaction -------------------------------------------
        if self.compact_every and (int(batch_id) + 1) % self.compact_every == 0:
            self.compact()

        for df in cached + [new_matched, comps_new]:
            df.unpersist()

    # -- compaction ----------------------------------------------------------
    def compact(self) -> None:
        """Fold append chains into single snapshots with tombstones applied,
        then reset the tombstone tables (Iceberg rewrite_data_files +
        rewrite_position_delete_files analogue)."""
        for table, reader in (
            ("conversations", self.stored_conversations),
            ("candidate_pairs", self.stored_pairs),
            ("components", self.stored_components),
            ("decisions", self.stored_decisions),
        ):
            resolved = reader()
            if resolved is not None:
                self.io.write(resolved, table, mode="overwrite")
        for tomb, key in (
            ("conv_deletes", "conv_id"),
            ("component_deletes", "conv_id"),
            ("decision_deletes", "group_id"),
        ):
            if self.io.current_snapshot(tomb) is not None:
                empty = self.spark.range(0).selectExpr(f"CAST(id AS STRING) AS {key}", "id AS _seq")
                self.io.write(empty, tomb, mode="overwrite")

    # -- the stream -----------------------------------------------------------
    def start(self, input_dir: str, checkpoint_dir: str, available_now: bool = True):
        stream = (
            self.spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .parquet(input_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def windowed_turn_counts(
    turns_stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup over a turns STREAM — per-window
    turn/conversation counts with bounded state.

    The native Structured Streaming half of the streaming story (the
    dedup itself runs via foreachBatch above): the watermark bounds how
    late a turn may arrive and still be counted, so state for closed
    windows is dropped instead of growing with the stream — the property
    that keeps a 10^12-turn ingest's aggregation state O(open windows),
    not O(history). Late rows beyond the watermark are discarded by the
    engine (exactly the documented late-data contract)."""
    return (
        turns_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("role"))
        .agg(
            F.count("*").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_convs_approx",
        )
    )


