"""Turns -> conversations reconstruction + per-conversation features.

Graft analogue of the reference's per-file metadata extraction
(/root/reference/src/metadata.ts:8-38): a conversation record = all turns of
one conv_id reconstructed under **stable (conv_id, turn_idx) ordering**
(input_hint invariant). Implemented entirely with built-in expressions:
``sort_array(collect_list(struct(turn_idx, ...)))`` is deterministic under
any partitioning (unlike bare collect_list), then the struct array is
projected back out with ``transform`` — no Python in this stage.

Scale note: this is one hash-aggregate shuffle keyed by conv_id. Monster
conversations (skewed conv_id) are bounded by the 64-turn generator cap here;
at 10^12-turn scale the same plan holds because the agg is hash-based and
spills, and per-key payload is bounded by max conversation length, not corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import normalize_text


def reconstruct_conversations(turns: DataFrame, keep_doc_text: bool = False) -> DataFrame:
    """turns(conv_id, turn_idx, role, text, tool, ts) -> one row per conv.

    Output columns:
      conv_id, turn_count, total_chars, first_ts, last_ts,
      role_seq (ordered roles, '|' joined), tool_set (sorted distinct tools),
      doc_text (raw turn texts joined with '\\n' in turn order),
      norm_text (F1-normalized doc_text), content_hash (xxhash64 of norm_text),
      completeness (fraction of non-empty turn texts)
    """
    # SQL text: one Py4J call per expression instead of one per column
    # reference, literal, operator and lambda
    conv = turns.groupBy("conv_id").agg(
        F.expr("CAST(count(1) AS INT) AS turn_count"),
        F.expr("CAST(sum(length(text)) AS BIGINT) AS total_chars"),
        F.expr("min(ts) AS first_ts"),
        F.expr("max(ts) AS last_ts"),
        F.expr("sort_array(collect_list(struct(turn_idx, text, role))) AS _turns"),
        F.expr("sort_array(collect_set(nullif(tool, ''))) AS tool_set"),
        F.expr("avg(CAST(length(trim(text)) > 0 AS DOUBLE)) AS completeness"),
    )
    conv = conv.selectExpr(
        "*",
        "concat_ws('\\n', transform(_turns, t -> t.text)) AS doc_text",
        "concat_ws('|', transform(_turns, t -> t.role)) AS role_seq",
    ).drop("_turns")
    conv = conv.withColumn("norm_text", normalize_text("doc_text"))
    conv = conv.withColumn("content_hash", F.xxhash64("norm_text"))
    if not keep_doc_text:
        # doc_text is ~half the row width and nothing downstream reads it
        # (norm_text drives hashing, signatures, and substring verify) —
        # dropping it halves Arrow transfer into the kernel and the persist
        # footprint
        conv = conv.drop("doc_text")
    return conv


def turns_normalized(turns: DataFrame) -> DataFrame:
    """Per-turn normalized text (for the per-turn equality invariant vs the
    Python oracle under stable (conv_id, turn_idx) ordering)."""
    return turns.select(
        "conv_id", "turn_idx", normalize_text("text").alias("norm_turn_text")
    )
