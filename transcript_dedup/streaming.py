"""Incremental dedup via Structured Streaming (foreachBatch).

The reference is batch-only with file-based resume (SURVEY.md 2.10); the
engine's snapshot/anti-join resume covers that. This module adds the
streaming growth path with **O(batch) state maintenance per micro-batch**:

  - detector joins run new-vs-all (never all-vs-all): exact hashes and LSH
    band keys of the NEW conversations probe the stored corpus;
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
    pairs), and only their membership/decision rows are rewritten;
  - the substring arm runs incrementally too (_incremental_substring):
    rarest-gram blocking over the stored corpus's gram index in BOTH
    containment directions, restricted to new-touching pairs, with the
    batch detector's pattern-probe fallback and the same containment
    verification before pairs are emitted.

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
from .detectors.lsh import band_keys
from .detectors.verify import verify_candidates
from .io import TableIO
from .reconstruct import reconstruct_conversations
from .signatures import add_signatures

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _incremental_candidates(new: DataFrame, all_: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidates touching at least one NEW conversation (new-vs-all),
    cid-keyed like the batch detectors (verify restores string ids)."""
    # exact: new hashes probe all hashes
    nh = new.filter(F.length("norm_text") > 0).select(
        F.col("cid").alias("n_id"), "content_hash"
    )
    ah = all_.filter(F.length("norm_text") > 0).select(
        F.col("cid").alias("a_id"), "content_hash"
    )
    exact = (
        nh.join(ah, "content_hash")
        .filter(F.col("n_id") != F.col("a_id"))
        .select(
            F.least("n_id", "a_id").alias("conv_a"),
            F.greatest("n_id", "a_id").alias("conv_b"),
            F.lit("exact").alias("src"),
        )
    )
    # LSH: band keys of new probe band keys of all
    nb = band_keys(new, cfg).withColumnRenamed("cid", "n_id")
    ab = band_keys(all_, cfg).withColumnRenamed("cid", "a_id")
    lsh = (
        nb.join(ab, ["band_id", "band_hash"])
        .filter(F.col("n_id") != F.col("a_id"))
        .select(
            F.least("n_id", "a_id").alias("conv_a"),
            F.greatest("n_id", "a_id").alias("conv_b"),
            F.lit("lsh").alias("src"),
        )
    )
    return exact.unionByName(lsh).unionByName(_incremental_substring(new, all_, cfg))


def _incremental_substring(new: DataFrame, all_: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Substring containment edges touching >=1 NEW conversation — the same
    new-vs-all shape as the exact/LSH arms.

    The stored side's sampled-gram index is derived from the resolved
    conversations state (``all_`` IS the maintained append-delta table, so
    exploding its ``sub_grams`` per batch is the gram-table scan a separate
    index table would also pay); document frequencies are one count
    aggregation over that index. Both containment directions are blocked
    with the batch detector's rarest-gram scheme, restricted to pairs with a
    new endpoint:

      new-inner:    rarest kept gram of each NEW doc probes ALL kept grams;
      new-outer:    rarest kept gram of EVERY doc probes the NEW docs' kept
                    grams (the stored->new containment direction);
      fallback:     gramless / all-stopped docs run the pattern probe
                    (substring._tiny_pairs) over the full corpus, output
                    filtered to new-touching pairs (cap + counters as in
                    batch).

    Candidates are then containment-verified (hydrate + instr) before being
    emitted as src='substring', exactly like the batch arm — verify's
    m_substring gate trusts its input pairs."""
    from .detectors.substring import _tiny_pairs, hydrate_and_verify

    nonempty = all_.filter(F.length("norm_text") > 0)
    grams = nonempty.select("cid", F.explode("sub_grams").alias("gram"))
    sizes = grams.groupBy("gram").agg(F.count("*").alias("df"))
    joined = grams.join(sizes, "gram")
    kept = joined.filter(F.col("df") <= cfg.substring_gram_maxdf).select(
        "cid", "gram"
    )
    rarest = (
        joined.groupBy("cid")
        .agg(F.min(F.struct("df", "gram")).alias("m"))
        .select("cid", F.col("m.df").alias("min_df"), F.col("m.gram").alias("gram"))
    )
    inner_keys = rarest.filter(F.col("min_df") <= cfg.substring_gram_maxdf).select(
        "cid", "gram"
    )
    new_ids = new.select("cid").distinct()

    def only_new(df: DataFrame, key: str = "cid") -> DataFrame:
        return df.join(
            F.broadcast(new_ids.withColumnRenamed("cid", key)), key, "left_semi"
        )

    def pairs_of(inner: DataFrame, outer: DataFrame) -> DataFrame:
        return (
            inner.alias("a")
            .join(outer.alias("b"), "gram")
            .filter(F.col("a.cid") != F.col("b.cid"))
            .select(
                F.least("a.cid", "b.cid").alias("conv_a"),
                F.greatest("a.cid", "b.cid").alias("conv_b"),
            )
        )

    p_new_inner = pairs_of(only_new(inner_keys), kept)
    p_new_outer = pairs_of(inner_keys, only_new(kept))
    all_stopped = rarest.filter(F.col("min_df") > cfg.substring_gram_maxdf).select(
        "cid"
    )
    tiny = _tiny_pairs(all_, all_stopped, cfg, None)
    tiny_new = (
        tiny.join(F.broadcast(new_ids.withColumnRenamed("cid", "conv_a")), "conv_a", "left_semi")
        .unionByName(
            tiny.join(
                F.broadcast(new_ids.withColumnRenamed("cid", "conv_b")), "conv_b", "left_semi"
            )
        )
    )
    raw = p_new_inner.unionByName(p_new_outer).unionByName(tiny_new).distinct()
    return (
        hydrate_and_verify(raw, all_)
        .select("conv_a", "conv_b")
        .withColumn("src", F.lit("substring"))
    )


class StreamingDedup:
    """Incremental state layout (all through TableIO):

    conversations      +_seq   append-only conv deltas
    conv_deletes               (conv_id, _seq) — re-delivered ids
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
        if new.isEmpty():
            new.unpersist()  # empty micro-batches must not leak cache blocks
            return
        stored = self.stored_conversations()

        # ---- conversations: O(batch) delta + tombstones for re-delivery --
        if stored is not None:
            redelivered = (
                new.select("conv_id")
                .join(stored.select("conv_id"), "conv_id", "left_semi")
                .persist()
            )
            n_redelivered = redelivered.count()
            stored_live = stored.join(redelivered, "conv_id", "left_anti")
            all_ = stored_live.drop("_seq").unionByName(new).persist()
        else:
            redelivered = None
            n_redelivered = 0
            all_ = new
        self.io.write(new.withColumn("_seq", seq), "conversations", mode="append")
        if n_redelivered:
            self.io.write(
                redelivered.withColumn("_seq", seq), "conv_deletes", mode="append"
            )

        # ---- new-vs-all detector pass (exact + LSH) ----------------------
        # same cid injectivity contract the batch pipeline asserts per pairs
        # job: all_ is new ∪ stored-live, exactly the id space the joins
        # below key on, so a cross-batch xxhash64 collision aborts loudly
        # here instead of emitting a false duplicate pair
        from .signatures import assert_cid_unique

        assert_cid_unique(all_)
        cand = _incremental_candidates(new, all_, cfg)
        new_pairs = verify_candidates(cand, all_, cfg).persist()
        self.io.write(new_pairs.withColumn("_seq", seq), "candidate_pairs", mode="append")

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
            else self.spark.createDataFrame([], "group_id string")
        )
        dead_groups = old_groups.unionByName(
            dec_new.select("group_id")
        ).distinct()
        self.io.write(dead_groups.withColumn("_seq", seq), "decision_deletes", mode="append")
        self.io.write(dec_new.withColumn("_seq", seq), "decisions", mode="append")

        # ---- periodic compaction -------------------------------------------
        if self.compact_every and (int(batch_id) + 1) % self.compact_every == 0:
            self.compact()

        for df in (new, new_pairs, new_matched, comps_new):
            df.unpersist()
        if all_ is not new:  # stored-corpus union persisted separately above
            all_.unpersist()
        if redelivered is not None:
            redelivered.unpersist()

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
                self.io.write(
                    self.spark.createDataFrame([], f"{key} string, _seq long"),
                    tomb,
                    mode="overwrite",
                )

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


