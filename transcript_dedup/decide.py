"""Per-component representative selection + decisions + conflict invariant.

Deterministic dataflow replacement of the reference's interactive review +
auto-decider (/root/reference/src/auto-decider.ts:233-288): one decision per
connected component (which also makes the reference's greedy overlap
suppression, auto-decider.ts:248-266, moot — a file belongs to exactly one
component).

Rule cascade (``applyRule``, auto-decider.ts:125-177: a rule wins only if its
winner is *strictly* better than the runner-up, else fall through):

  keep-most-complete   unique max completeness   ~ prefer-lossless (:31-44)
  keep-longest         unique max total_chars    ~ prefer-higher-bitrate (:46-56)
  keep-earliest        unique min first_ts       ~ most-metadata analogue
  keep-first-id        min conv_id               (deterministic fallback —
                                                  Spark partition order is
                                                  nondeterministic, SURVEY 4.3)

decision_type: 'auto' when every matched pair inside the component clears the
confidence threshold (auto-decider.ts:196-202), else 'needs_review' (the
interactive branch becomes a flag, SURVEY 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig


def select_representatives(components: DataFrame, conv: DataFrame) -> DataFrame:
    """(conv_id, component_id) + conversations -> per-member ranking with the
    winning rule. Output: component_id, conv_id, is_keep, rule_applied."""
    m = components.join(
        conv.select("conv_id", "completeness", "total_chars", "first_ts"), "conv_id"
    )
    # window and aggregate columns are SQL text: one Py4J call per
    # expression instead of one per column reference, literal and operator
    w = "OVER (PARTITION BY component_id)"

    def unique_max(col: str, agg: str = "max") -> str:
        is_best = f"{col} = {agg}({col}) {w}"
        return f"{is_best} AND sum(CAST({is_best} AS INT)) {w} = 1"

    m = (
        m.withColumn("win_complete", F.expr(unique_max("completeness")))
        .withColumn("win_length", F.expr(unique_max("total_chars")))
        .withColumn("win_earliest", F.expr(unique_max("first_ts", "min")))
        .withColumn("win_first_id", F.expr(f"conv_id = min(conv_id) {w}"))
    )
    # does any member win at rule k? (if not, the rule tied -> fall through)
    rules = (
        ("win_complete", "keep-most-complete"),
        ("win_length", "keep-longest"),
        ("win_earliest", "keep-earliest"),
    )

    def cascade(then) -> str:
        whens = " ".join(f"WHEN max(CAST({c} AS INT)) {w} = 1 THEN {then(c, r)}" for c, r in rules)
        return f"CASE {whens} ELSE {then('win_first_id', 'keep-first-id')} END"

    return m.selectExpr(
        "component_id",
        "conv_id",
        f"{cascade(lambda c, r: c)} AS is_keep",
        f"{cascade(lambda c, r: repr(r))} AS rule_applied",
    )


def make_decisions(
    components: DataFrame,
    conv: DataFrame,
    pairs: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """-> decisions(group_id, keep array, delete array, rule_applied,
    decision_type, min_confidence, size)."""
    ranked = select_representatives(components, conv)

    # min matched-pair confidence per component (confidence gate,
    # auto-decider.ts:196)
    pair_conf = (
        pairs.filter("is_match")
        .join(components.selectExpr("conv_id AS conv_a", "component_id"), "conv_a")
        .groupBy("component_id")
        .agg(F.expr("min(confidence) AS min_confidence"))
    )

    # metadata-field disagreement per component (compareMetadataFields,
    # /root/reference/src/auto-decider.ts:75-108: differing fields flag the
    # decision for metadata review) — transcript fields: role_seq, tool_set,
    # turn_count
    differs = ", ".join(
        f"CASE WHEN count(DISTINCT {sql}) > 1 THEN '{name}' END"
        for name, sql in (
            ("role_seq", "role_seq"),
            ("tool_set", "to_json(struct(tool_set))"),
            ("turn_count", "turn_count"),
        )
    )
    meta_diff = (
        components.join(
            conv.select("conv_id", "role_seq", "tool_set", "turn_count"), "conv_id"
        )
        .groupBy("component_id")
        .agg(F.expr(f"filter(array({differs}), x -> x IS NOT NULL) AS meta_differences"))
    )

    no_diffs = "coalesce(meta_differences, CAST(array() AS ARRAY<STRING>))"
    dec = (
        ranked.groupBy("component_id", "rule_applied")
        .agg(
            F.expr("sort_array(collect_list(CASE WHEN is_keep THEN conv_id END)) AS keep"),
            F.expr("sort_array(collect_list(CASE WHEN NOT is_keep THEN conv_id END)) AS `delete`"),
            F.expr("CAST(count(1) AS INT) AS size"),
        )
        .join(pair_conf, "component_id", "left")
        .join(meta_diff, "component_id", "left")
        .selectExpr(
            "component_id AS group_id",
            "keep",
            "`delete`",
            "rule_applied",
            f"CASE WHEN coalesce(min_confidence, 0) >= {cfg.confidence_threshold} THEN 'auto'"
            " ELSE 'needs_review' END AS decision_type",
            "coalesce(min_confidence, 0) AS min_confidence",
            "size",
            f"{no_diffs} AS meta_differences",
            f"size({no_diffs}) > 0 AS needs_metadata_review",
        )
    )
    return dec


def find_conflicts(decisions: DataFrame) -> DataFrame:
    """keep-and-delete conflict detector (J7 —
    /root/reference/src/find-conflicts.ts:24-59, verify-no-conflicts.ts:19-47).
    Returns (conv_id, n_actions, actions) rows that violate the invariant —
    must be empty."""
    exploded = decisions.selectExpr(
        "group_id", "explode(keep) AS conv_id", "'keep' AS action"
    ).unionByName(
        decisions.selectExpr("group_id", "explode(`delete`) AS conv_id", "'delete' AS action")
    )
    return (
        exploded.groupBy("conv_id")
        .agg(F.expr("collect_set(action) AS actions"), F.expr("count(1) AS n_actions"))
        .filter("size(actions) > 1")
    )
