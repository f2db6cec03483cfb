"""Exact-duplicate detector: content-hash grouping.

Graft analogue of the reference's artist+title exact match
(/root/reference/src/duplicates.ts:97-108): two conversations are exact
duplicates iff their F1-normalized reconstructed texts are equal (equality
checked via xxhash64; the verify stage additionally requires
est_jaccard == 1.0 — identical texts yield identical minhash arrays — so a
64-bit content-hash collision cannot create a false merge on its own;
verify.py m_content).

Scale design: the reference's all-pairs loop would emit O(k^2) pairs per
k-sized duplicate group. We emit **star edges** (group representative ->
every other member) — k-1 edges — which yields the identical transitive
closure after connected components, without the quadratic blowup. One window
over a hash-partitioned-by-content_hash exchange; no join.

Ids: edges are keyed by ``cid`` (the dictionary-encoded long id,
signatures.add_signatures) and canonically oriented by cid so the verify
stage's pair groupBy merges this arm with the LSH/substring arms. The
representative stays the STRING-min member (struct-min over (conv_id, cid))
— the anchor choice is part of the external contract (the DuckDB
transcript_decisions oracle reproduces string-min star edges), and the
transitive closure is anchor-invariant either way.

Empty documents (norm_text = '') never match — the analogue of the
reference's null-tag rejection (checkArtistTitleMatch returns false on
missing fields, duplicates.ts:97-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .verify import touching


def exact_candidates(conv: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """conversations -> (conv_a, conv_b, src='exact') star edges, cid-keyed.

    ``probe`` (optional, a frame of cids): only the content-hash groups
    holding a probe row are expanded, over ALL their members in ``conv`` —
    so the representative is the same as in the batch run — and only the
    edges touching the probe are emitted."""
    nonempty = conv.filter("length(norm_text) > 0").select("content_hash", "conv_id", "cid")
    if probe is not None:
        probed = nonempty.join(F.broadcast(probe.select("cid")), "cid", "left_semi")
        # one row per probe doc, like the probe ids: safe to broadcast
        groups = F.broadcast(probed.select("content_hash"))
        nonempty = nonempty.join(groups, "content_hash", "left_semi")
    # struct-min orders by conv_id first: rep = cid of the string-min member
    rep = nonempty.withColumn(
        "rep", F.expr("min(struct(conv_id, cid)) OVER (PARTITION BY content_hash)")
    )
    edges = rep.filter("conv_id != rep.conv_id").selectExpr(
        "least(rep.cid, cid) AS conv_a", "greatest(rep.cid, cid) AS conv_b", "'exact' AS src"
    )
    return touching(edges, probe)


def orphaned_members(stored: DataFrame, new: DataFrame) -> DataFrame:
    """The rows of ``stored`` whose content-hash group loses its
    representative: ``new`` re-delivers the string-min member with other
    (or empty) text.

    The group's star edges all end at that member's old version; a batch run
    over the updated corpus anchors them on the next string-min member, so
    a probed run (exact_candidates(..., probe=)) emits them only when the
    probe holds these members."""
    nonempty = stored.filter("length(norm_text) > 0")
    ids = new.select("conv_id")
    kept = new.filter("length(norm_text) > 0").select("conv_id", "content_hash")
    left = (
        nonempty.join(ids, "conv_id", "left_semi")
        .join(kept, ["conv_id", "content_hash"], "left_anti")
        .select("conv_id", "content_hash")
    )
    groups = nonempty.join(left.select("content_hash"), "content_hash", "left_semi")
    orphaned = (
        groups.groupBy("content_hash")
        .agg(F.expr("min(conv_id) AS conv_id"))
        .join(left, ["content_hash", "conv_id"], "left_semi")
    )
    return groups.join(orphaned.select("content_hash"), "content_hash", "left_semi").join(
        ids, "conv_id", "left_anti"
    )
