"""Incremental dedup via Structured Streaming (foreachBatch).

The reference is batch-only with file-based resume (SURVEY.md 2.10); the
engine's snapshot/anti-join resume covers that. This module adds the
streaming growth path with **O(batch) state maintenance per micro-batch**:

  - a micro-batch runs the batch stage table (pipeline.run_stages) once:
    the stored corpus plus the batch is the build side, the NEW
    conversations the probe side of the detectors, so block statistics
    (content-hash groups, LSH key sizes with the hot-key pre-pass,
    stop-band drop and salting, gram document frequencies) are those of a
    batch run, only the blocks holding a new conversation are expanded, and
    only the pairs touching one are emitted. The first batch (no stored
    corpus) is a batch run. An exact group's representative re-delivered
    with other text brings the group's other members into the batch, so
    its star edges are rebuilt around the next member
    (detectors.exact.orphaned_members);
  - state tables are APPEND-ONLY deltas (TableIO mode='append' writes only
    the batch's rows) plus tiny equality-delete tombstone tables — the
    Iceberg equality-delete pattern. A reader resolves
    ``row._seq >= max(tombstone._seq)`` per key; tombstones only exist for
    re-delivered conversations and re-clustered components, so they stay
    O(churn), and periodic compaction (``compact_every``) folds the chain
    back into a single snapshot;
  - connected components run INCREMENTALLY: the batch's sink hands the
    components and decisions stages only the components touched by new
    edges or re-delivered conversations, with their valid pairs (merge AND
    split are handled, the affected subgraph is re-clustered), and only
    their membership/decision rows are rewritten.

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

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .detectors.exact import orphaned_members
from .io import TableIO
from .pipeline import STAGES, Sink, run_stages
from .reconstruct import reconstruct_conversations
from .signatures import add_signatures

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class StreamingDedup:
    """Incremental dedup state; ``process_batch`` is the foreachBatch
    function. State layout (all through TableIO):

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
        """One micro-batch through pipeline.run_stages (module docstring).
        Every frame it persists is released when it ends, even on failure."""
        cfg = self.cfg
        with ExitStack() as cached:

            def cache(df: DataFrame) -> DataFrame:
                df = df.persist()
                cached.callback(df.unpersist)
                return df

            new = cache(add_signatures(reconstruct_conversations(turns_batch), cfg))
            if new.isEmpty():
                return  # empty micro-batches must not leak cache blocks
            stored = self.stored_conversations()
            all_, redelivered, n_redelivered, probe = new, None, 0, None
            if stored is not None:
                # re-delivered ids, with the content hash they were stored with
                again = cache(
                    new.select("conv_id", "content_hash").join(
                        stored.selectExpr("conv_id", "content_hash AS old_hash"), "conv_id"
                    )
                )
                n_redelivered, n_rehashed = again.selectExpr(
                    "count(1)", "count_if(content_hash != old_hash)"
                ).first()
                redelivered = again.select("conv_id")
                if n_rehashed:
                    # an exact group whose representative changed text loses
                    # the star edges anchored on it: its other members are
                    # delivered again too, so their pairs are rebuilt around
                    # the next member. Checkpointed, not cached: a cached
                    # frame nests its whole plan into every plan that reads it
                    orphans = orphaned_members(stored, new).drop("_seq").localCheckpoint()
                    new = new.unionByName(orphans)
                    redelivered = redelivered.unionByName(orphans.select("conv_id"))
                stored_live = stored.join(redelivered, "conv_id", "left_anti")
                all_ = cache(stored_live.drop("_seq").unionByName(new))
                probe = new.select("cid")
            sink = self._batch_sink(batch_id, new, redelivered, n_redelivered, cache)
            run_stages({"conversations": all_, "probe": probe}, cfg, sink)

            # ---- periodic compaction ---------------------------------------
            if self.compact_every and (int(batch_id) + 1) % self.compact_every == 0:
                self.compact()

    def _batch_sink(self, batch_id, new, redelivered, n_redelivered, cache) -> Sink:
        """Each stage appends its O(batch) delta plus tombstones. The pairs
        stage returns the new pairs plus the stored matched pairs of the
        components they touch: the subgraph components and decisions redo."""
        seq = F.lit(int(batch_id)).cast("long")
        affected: dict = {}

        def append(df: DataFrame, table: str) -> dict:
            return self.io.write(df.withColumn("_seq", seq), table, mode="append")

        def conversations(all_):
            append(new, "conversations")
            if n_redelivered:
                append(redelivered, "conv_deletes")
            return all_

        def candidate_pairs(pairs):
            # written inside the detector scope, then read back, not cached:
            # a cached frame nests its whole plan into every plan that reads
            # it, and planning the CC and decision jobs over the detector
            # plan costs more than running the detectors
            snap = append(pairs, "candidate_pairs")
            delta = {**snap, "paths": snap["paths"][-1:]}
            new_pairs = TableIO.read_snapshot(self.spark, delta).drop("_seq")
            # touched = endpoints of new matched edges + re-delivered convs;
            # affected components = stored components holding a touched node
            new_matched = cache(new_pairs.filter("is_match").select("conv_a", "conv_b"))
            touched = new_matched.select(F.col("conv_a").alias("conv_id")).unionByName(
                new_matched.select(F.col("conv_b").alias("conv_id"))
            )
            if redelivered is not None:
                touched = touched.unionByName(redelivered)
            touched = touched.distinct()
            prev_comps = self.stored_components()
            if prev_comps is None:
                affected["members"] = touched
                # empty frames come from a range: one built from a Python
                # list costs a Python worker pass in every job that reads it
                affected["groups"] = self.spark.range(0).selectExpr(
                    "CAST(id AS STRING) AS group_id"
                )
                return new_pairs
            affected_ids = (
                prev_comps.join(touched, "conv_id", "left_semi").select("component_id").distinct()
            )
            members = prev_comps.join(
                F.broadcast(affected_ids), "component_id", "left_semi"
            ).select("conv_id")
            affected["members"] = members.unionByName(touched).distinct()
            affected["groups"] = affected_ids.withColumnRenamed("component_id", "group_id")
            # valid stored matched pairs inside affected components
            sub_stored = self.stored_pairs().filter("is_match").join(
                F.broadcast(members.withColumnRenamed("conv_id", "conv_a")), "conv_a", "left_semi"
            )
            return sub_stored.select(*new_pairs.columns).unionByName(new_pairs)

        def components(comps):
            comps = cache(comps)
            # membership tombstones: every node whose component was re-solved
            append(affected["members"], "component_deletes")
            append(comps, "components")
            return comps

        def decisions(dec):
            dead = affected["groups"].unionByName(dec.select("group_id")).distinct()
            append(dead, "decision_deletes")
            append(dec, "decisions")
            return dec

        commits = dict(zip(STAGES, (conversations, candidate_pairs, components, decisions)))
        return lambda name, build: commits[name](build(None))

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


