"""Connected components over duplicate-pair edges (clustering stage).

Distributed replacement for the reference's driver-memory BFS
(``findConnectedFiles``, /root/reference/src/resolve-conflicts.ts:114-135)
and the documented transitive grouping (README.md:60): iterative
min-label propagation ("hash-to-min" style, Rastogi et al. 2013):

    labels(v) <- min(labels(v), min over neighbors u of labels(u))

repeated to fixpoint. Each iteration is one shuffle (join + groupBy-min);
convergence takes O(max component diameter) rounds — duplicate clusters are
shallow, so this is a handful of rounds even at 10^12-turn scale. Lineage is
truncated every iteration with ``localCheckpoint`` (SURVEY.md 4.2), and the
per-iteration changed-label count lands in ``counters`` for the metrics
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig


def _union_find_driver(spark, edge_rows, counters: dict | None) -> DataFrame:
    """Driver-side union-find fast path for small edge sets.

    The duplicate graph is tiny relative to the corpus (edges ~ number of
    duplicates, not turns), so below cc_driver_threshold collecting the edge
    list and running union-find beats dozens of iterative-join jobs. The
    distributed loop below remains the 10^12-scale path and is exercised by
    tests with cc_driver_threshold=0.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min-id so component_id == min member (matches the
            # distributed hash-to-min labels)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    import pandas as pd

    out = pd.DataFrame(
        {"conv_id": list(parent), "component_id": [find(x) for x in parent]}
    )
    if counters is not None:
        counters["cc_iterations"] = 0
        counters["cc_driver_edges"] = len(edge_rows)
    # pandas -> Arrow path is ~10x faster than a list-of-tuples upload at
    # 100k+ label rows
    return spark.createDataFrame(out, "conv_id string, component_id string")


def connected_components(
    edges: DataFrame, cfg: DedupConfig | None = None, counters: dict | None = None
) -> DataFrame:
    """edges(conv_a, conv_b) -> (conv_id, component_id).

    component_id = lexicographic min conv_id of the component. Only nodes
    that appear in an edge are emitted (singletons are not duplicates —
    matching the reference, where only grouped files get decisions).

    Strategy: distributed min-label propagation with pointer jumping (the
    scale path, one shuffle per round, lineage truncated per round), with a
    driver union-find fast path when the deduplicated edge list is small
    (cfg.cc_driver_threshold).
    """
    cfg = cfg or DedupConfig()
    e = edges.select("conv_a", "conv_b")

    if cfg.cc_driver_threshold > 0:
        # decide driver-vs-distributed with bounded driver memory: the
        # take() probe is capped (collecting 2M Rows just to pick a path
        # would cost ~GBs of driver heap); above the cap a limit().count()
        # probe ships only a count, and the full edge list is collected only
        # when union-find will actually consume it
        probe = min(cfg.cc_driver_threshold, 200_000)
        # Arrow-backed collect: deserializing 10^5 edge Rows through Py4J is
        # seconds of single-threaded driver time (flat at every parallelism
        # level); toPandas ships the same rows as Arrow batches
        head = e.limit(probe).toPandas()
        if len(head) < probe:
            rows = list(zip(head["conv_a"], head["conv_b"]))
            return _union_find_driver(edges.sparkSession, rows, counters)
        if cfg.cc_driver_threshold > probe:
            n = e.limit(cfg.cc_driver_threshold).count()
            if n < cfg.cc_driver_threshold:
                pdf = e.limit(n).toPandas()
                rows = list(zip(pdf["conv_a"], pdf["conv_b"]))
                return _union_find_driver(edges.sparkSession, rows, counters)
    sym = e.unionByName(
        e.select(F.col("conv_b").alias("conv_a"), F.col("conv_a").alias("conv_b"))
    )
    # adjacency is reused every iteration — persist once, repartitioned by
    # src; released however the loop ends
    sym = sym.repartition("conv_a").persist()
    try:
        labels = (
            sym.select(F.col("conv_a").alias("conv_id"))
            .distinct()
            .withColumn("label", F.col("conv_id"))
            .localCheckpoint()
        )

        iters = 0
        for it in range(cfg.cc_max_iters):
            iters = it + 1
            msgs = (
                sym.join(labels, sym.conv_b == labels.conv_id, "inner")
                .select(F.col("conv_a").alias("conv_id"), "label")
            )
            new_labels = (
                msgs.unionByName(labels)
                .groupBy("conv_id")
                .agg(F.min("label").alias("label"))
            )
            # pointer jumping (path halving): also take the label of my label —
            # halves the rounds needed for deep components
            jumped = (
                new_labels.alias("n")
                .join(
                    new_labels.select(
                        F.col("conv_id").alias("label"), F.col("label").alias("label2")
                    ).alias("p"),
                    "label",
                    "left",
                )
                .select("conv_id", F.least("label", "label2").alias("label"))
            )
            # lazy lineage truncation: the convergence count below materializes it
            new_labels = jumped.localCheckpoint(eager=False)
            # convergence check every other round (each check is a full job; a
            # wasted extra round is cheaper than a check per round)
            if it % 2 == 1 or it == cfg.cc_max_iters - 1:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "conv_id")
                    .filter(F.col("n.label") != F.col("o.label"))
                    .count()
                )
                if counters is not None:
                    counters[f"cc_changed_iter_{iters}"] = changed
                labels = new_labels
                if changed == 0:
                    break
            else:
                labels = new_labels
        else:  # the last round is always checked: labels were still changing
            raise RuntimeError(
                f"connected components did not converge in cc_max_iters="
                f"{cfg.cc_max_iters} rounds ({changed} labels still changing)"
            )
        if counters is not None:
            counters["cc_iterations"] = iters
    finally:
        sym.unpersist()
    return labels.select("conv_id", F.col("label").alias("component_id"))
