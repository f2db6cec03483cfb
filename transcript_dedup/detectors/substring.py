"""Exact-substring containment detector.

Graft addition (north rule) with no reference analogue — finds conversations
whose full normalized text occurs verbatim inside another conversation's
text (FIXTURES.md "substring" family).

Design (scales because every stage is a key join, never all-pairs):

  1. **Blocking** — each doc carries content-defined sampled k-char-gram
     hashes (``sub_grams``, computed in the one Arrow kernel pass,
     signatures.py). Sampling is hash(gram) % mod == 0, position-independent,
     so containment implies every sampled gram of the inner doc is sampled in
     the outer doc. One shared gram => candidate pair.
  2. **Stop-grams** — two-pass df count; grams shared by more than
     ``band_key_drop`` docs are boilerplate, dropped with a counter (same
     skew discipline as the LSH bands).
  3. **Gramless fallback** — docs whose text is non-empty but has no
     surviving sampled gram (short docs, or all grams stopped) contribute
     one min-hash RAW gram each as a probe pattern; a single vectorized
     Arrow pass over the corpus matches all patterns at once (see
     _tiny_pairs). Count hard-capped + logged; sub-gram-length docs use a
     broadcast contains-join (cheap: needles shorter than one gram).
  4. **Verify** — gram-path candidates are hydrated with both texts and
     checked with the JVM ``instr`` (inner strictly shorter and contained
     in outer); tiny-path pairs are verified inside the probe kernel. The
     numpy suffix array (suffix_array.py) is the test-side reference:
     tests/test_substring_verify.py checks the emitted pairs against
     brute-force containment with ``sa_contains``.

Only pairs with len(inner) < len(outer) are emitted — equal-text pairs are
the exact detector's job.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..metrics import observe
from .verify import touching


def _cached(df: DataFrame, cache_registry: list[DataFrame] | None) -> DataFrame:
    """Persist ``df`` into the caller's registry; no registry, no cache."""
    if cache_registry is None:
        return df
    df = df.persist()
    cache_registry.append(df)
    return df


def _gram_pairs(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None,
    cache_registry: list[DataFrame] | None,
    probe: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (candidate pairs from rare-gram collisions, ids of docs whose
    sampled grams were ALL stopped — they need the exhaustive tiny path).

    One gram explode -> one df groupBy -> one join-back; the per-doc argmin
    aggregation carries the min df, so "every gram stopped" is just
    ``min_df > maxdf`` on the SAME aggregate — no anti-join, no
    materialization barrier, no driver action. All consumers hang off shared
    exchanges (AQE ReusedExchange), so the explode+count pipeline runs once
    per pairs job even without a persist.

    With a ``probe`` (a frame of cids), both sides of the blocking join keep
    only the kept grams of probe docs. No pair touching the probe is lost:
    for inner x contained in outer y, x's rarest gram is a kept gram of x
    AND of y, so whichever endpoint is a probe doc contributes it. The
    pairs still include some that touch no probe doc; the caller filters.
    """
    maxdf = cfg.substring_gram_maxdf
    # cid keys: the gram explode is this detector's widest exchange, and the
    # blocking join below shuffles it again — 8-byte longs, not id strings
    grams = conv.filter("length(norm_text) > 0").selectExpr("cid", "explode(sub_grams) AS gram")
    sizes = grams.groupBy("gram").agg(F.expr("count(1) AS df"))
    if counters is not None:
        # observed on the df aggregate the pairs job computes anyway: the
        # join below consumes it whole, and it sits behind the cid
        # exchange, so even the bounded tiny-path collection fills it
        sizes, stats = observe(sizes, stop_grams=f"count_if(df > {maxdf})")
        counters["substring_stop_grams"] = stats["stop_grams"]
    # persisted (when the caller owns a cache registry): the tiny-path
    # pattern collection (a driver collection in _tiny_pairs) materializes this
    # subtree before the main pairs job; the caches make that barrier double
    # as the subtree's materialization instead of costing a second full
    # explode+df pipeline run
    joined = _cached(grams.join(sizes, "gram", "inner"), cache_registry)
    # membership side of the blocking join: stop-listed grams dropped
    kept = joined.filter(f"df <= {maxdf}").select("cid", "gram")
    # rarest-gram blocking: containment means the outer doc contains EVERY
    # inner gram, so the inner doc only needs to probe with its single
    # rarest (min-df) gram — join fan-out is df(rarest gram) per doc, never
    # quadratic in a gram's document frequency.
    #
    # The argmin runs as min() over an order-preserving decimal(38,0)
    # packing of (df, gram) — df * 2^64 + (gram + 2^63) — instead of
    # min(struct(df, gram)): struct aggregation buffers are immutable, so
    # the struct form planned as TWO SortAggregates with full sorts of the
    # exploded gram table (~15M rows at 240k convs, the plan's only
    # sort-based aggregation); decimals are mutable buffer types, so the
    # packed form hash-aggregates. The packing is exactly order-isomorphic
    # to the struct ordering (df major; +2^63 bias maps signed gram order
    # onto the non-negative decimal minor axis), so the selected
    # (min_df, gram) per cid is bit-identical.
    _TWO64 = "18446744073709551616"  # 2^64
    _BIAS = "9223372036854775808"  # 2^63
    packed = f"cast(df as decimal(38,0)) * {_TWO64} + (cast(gram as decimal(38,0)) + {_BIAS})"
    rarest = _cached(
        joined.groupBy("cid")
        .agg(F.expr(f"min({packed}) AS p"))
        .selectExpr(
            "cid",
            f"cast((p - (p % {_TWO64})) / {_TWO64} as long) AS min_df",
            f"cast(p % {_TWO64} - {_BIAS} as long) AS gram",
        ),
        cache_registry,
    )
    inner_keys = rarest.filter(f"min_df <= {maxdf}")
    # docs whose grams were ALL stop-listed: min_df over every gram > maxdf
    all_stopped = rarest.filter(f"min_df > {maxdf}").select("cid")
    if probe is not None:
        # not hinted: the probe's kept grams grow with the micro-batch
        probe_grams = kept.join(F.broadcast(probe.select("cid")), "cid", "left_semi").select(
            "gram"
        )
        inner_keys = inner_keys.join(probe_grams, "gram", "left_semi")
        kept = kept.join(probe_grams, "gram", "left_semi")
    pairs = (
        inner_keys.alias("a")
        .join(kept.alias("b"), "gram")
        .filter("a.cid != b.cid")
        .selectExpr("least(a.cid, b.cid) AS conv_a", "greatest(a.cid, b.cid) AS conv_b")
        .distinct()
    )
    return pairs, all_stopped


def _tiny_pairs(
    conv: DataFrame, tiny_ids: DataFrame, cfg: DedupConfig, counters: dict | None
) -> DataFrame:
    """Fallback pairs for docs with no usable sampled grams: non-empty
    docs with zero sampled grams, plus docs whose grams were all
    stop-listed. Returns **containment-verified** pairs (round 8): inner =
    the tiny doc, strictly shorter, its full text verified inside the probe
    kernel — so the output needs no re-verification and never re-enters the
    hydration join.

    Round-8 redesign rationale (measured at 240k convs): tiny docs are
    boilerplate-degenerate by construction, so MANY of them share one
    minimum raw gram — two hot pattern hashes were shared by ~214 distinct
    needle texts each, and the old hash-match -> join-back -> hydrate
    pipeline emitted **15.0M candidate pairs** (of 15.08M total substring
    candidates) that then paid a 15M-row distinct, two full-corpus
    hydration joins and 15M instr() verifications to be whittled back to
    ~12k true pairs. The probe kernel already holds every scanned text, so
    it now verifies real containment in place, over per-hash needle lists
    deduplicated by TEXT (needle fan-out happens after verification, when
    only true pairs remain). The verified pair set is provably identical:
    for any true containment x strictly-inside y with x tiny, every raw
    gram of x — including the minimum one — occurs in y, so the probe
    reaches (y, min_gram(x)) and the in-kernel check 'len(x) < len(y) and
    x in y' is exactly the predicate hydrate_and_verify applied; pairs
    whose inner doc has a rare sampled gram are disjointly covered by the
    gram path (the inner's rarest gram is a kept gram of the outer).

    Pattern-probe design (the corpus x tiny broadcast ``instr`` scan this
    replaces measured 828 core-seconds for 96 fallback docs at 240k — 60% of
    total pipeline compute, and O(corpus * fallback) at scale):

      1. each fallback doc long enough to hold a gram contributes ONE
         pattern — the raw k-char gram of its text with the MINIMUM hash
         (content-defined, so boilerplate prefixes don't correlate);
         containment of T in O implies every raw gram of T, including that
         one, occurs in O;
      2. one vectorized Arrow pass over the corpus computes each doc's raw
         (unsampled) gram hashes — the same polynomial machinery as the
         signature kernel, minus the splitmix/unique passes equality
         matching doesn't need — as ONE concatenated rolling-hash pass per
         ~2 MiB of batch text, prefilters positions with a low-bits bitmap
         of the broadcast pattern array, and exact-checks the rare
         survivors (signatures.probe_gram_matches; ~10x less compute than
         the per-doc np.isin probe it replaced), emitting the rare
         (doc, pattern-hash) matches;
      3. hash survivors are verified IN the kernel against the (text-
         deduplicated) needle list of their pattern hash — a C-level
         substring check per (scanned doc, distinct needle) — so hash
         collisions and needle fan-out cost only kernel compute, never
         wrong answers and never downstream rows;
      4. verified (scanned doc, needle-text) matches fan out to the needle
         texts' doc ids through a broadcast join (true pairs only).

    Docs shorter than one gram fall back to the broadcast contains-join —
    their texts are < substring_gram_k chars, so each probe is a few dozen
    character comparisons, not a document scan. That join now also applies
    the strict inner-shorter rule, so its output is verified too.

    Scale guard: the pattern set is hard-capped at
    ``cfg.substring_tiny_cap`` (collecting cap+1 fails LOUD on overflow — a
    boilerplate-degenerate corpus should raise maxdf, not silently lose
    recall)."""
    spark = conv.sparkSession
    gramless = conv.filter("length(norm_text) > 0 AND size(sub_grams) = 0").select("cid")
    tiny = (
        gramless.unionByName(tiny_ids)
        .distinct()
        .join(conv.select("cid", "norm_text"), "cid")
        .selectExpr("cid AS t_id", "norm_text AS t_text")
    )
    # one bounded job: each task hands at most cap+1 rows to a single
    # partition that keeps cap+1 (a plain take() grows its scan over
    # several incremental jobs while the set is below the cap)
    rows = tiny.limit(cfg.substring_tiny_cap + 1).toArrow().to_pylist()
    if len(rows) > cfg.substring_tiny_cap:
        raise RuntimeError(
            f"substring tiny-path fallback exceeds cap {cfg.substring_tiny_cap}: "
            f"corpus is boilerplate-degenerate for "
            f"substring_gram_maxdf={cfg.substring_gram_maxdf}; raise the "
            "cap/maxdf or disable the substring detector"
        )
    if counters is not None:
        counters["substring_tiny_docs"] = len(rows)
    # driver-side tables are built from Arrow (or a range): a frame built
    # from a Python list costs a Python worker pass when a job reads it
    empty = spark.range(0).selectExpr("id AS conv_a", "id AS conv_b")
    if not rows:
        return empty

    import numpy as np

    from ..signatures import build_pattern_bitmap, raw_gram_hashes

    k = cfg.substring_gram_k
    long_rows = [(r["t_id"], r["t_text"]) for r in rows if len(r["t_text"]) >= k]
    short_rows = [(r["t_id"], r["t_text"]) for r in rows if len(r["t_text"]) < k]
    if counters is not None:
        counters["substring_tiny_short_docs"] = len(short_rows)

    out = empty
    oriented = ("least(t_id, o_id) AS conv_a", "greatest(t_id, o_id) AS conv_b")
    if long_rows:
        # one min raw gram per DISTINCT needle text (raw = every gram, no
        # sampling; identical texts share one needle — fan-out to their doc
        # ids happens after verification, when only true pairs remain).
        # Min is taken in two's-complement (int64 view) space — the SAME
        # value space the probe kernel emits — because a uint64 min with the
        # top bit set overflows the int64 createDataFrame/np.array path. Any
        # raw gram of T is a valid pattern, so signed-order min is just as
        # good. (raw_gram_hashes, not sampled mod=1: same polynomial, but
        # skips the splitmix + unique-sort passes neither side needs.)
        texts_d = sorted({t for _, t in long_rows})
        tix_of = {t: i for i, t in enumerate(texts_d)}
        # two anchor grams per distinct needle: its two smallest distinct
        # raw-gram hashes. Containment implies EVERY raw gram of the needle
        # occurs in the container, so requiring both anchors before the
        # string check is a pure prefilter (no true pair lost; needles with
        # a single distinct gram hash use one anchor). Measured at 240k:
        # the second anchor prunes the candidate checks 3x — boilerplate
        # needle families share their minimum gram, so the h1-only fan-out
        # re-checked every family member against every h1-matching doc.
        h1s: list[int] = []
        h2s: list[int | None] = []
        for t in texts_d:
            u = np.unique(raw_gram_hashes(t, k).view(np.int64))
            h1s.append(int(u[0]))
            h2s.append(int(u[1]) if u.size > 1 else None)
        pat_arr = np.unique(np.array(
            h1s + [h for h in h2s if h is not None], dtype=np.int64
        ))
        # needle tables sorted by h1 (group lookup via searchsorted):
        order = sorted(range(len(texts_d)), key=lambda i: (h1s[i], len(texts_d[i])))
        ndl_texts = [texts_d[i] for i in order]
        ndl_tix = np.array(order, dtype=np.int64)
        ndl_len = np.array([len(t) for t in ndl_texts], dtype=np.int64)
        ndl_h1 = np.array([h1s[i] for i in order], dtype=np.int64)
        ndl_h2idx = np.array(
            [-1 if h2s[i] is None else int(np.searchsorted(pat_arr, h2s[i]))
             for i in order],
            dtype=np.int64,
        )
        grp_h1, grp_start = np.unique(ndl_h1, return_index=True)
        grp_cnt = np.diff(np.append(grp_start, ndl_h1.size))
        bc = spark.sparkContext.broadcast(
            (pat_arr, grp_h1, grp_start, grp_cnt, ndl_tix, ndl_len, ndl_h2idx, ndl_texts)
        )
        tix_df = F.broadcast(
            spark.createDataFrame(
                pa.table(
                    {"tix": [tix_of[t] for _, t in long_rows], "t_id": [i for i, _ in long_rows]}
                )
            )
        )

        def probe(batches):
            import pandas as pd  # worker-side import

            from ..signatures import doc_pattern_key, probe_gram_matches_best

            (p_arr, g_h1, g_start, g_cnt, n_tix, n_len, n_h2, n_texts) = bc.value
            # bitmap prefilter built once per task from the broadcast
            # pattern array (4 MiB; ~ms)
            bitmap = build_pattern_bitmap(p_arr)
            for pdf in batches:
                texts = pdf["norm_text"].tolist()
                # native C rolling-hash scan when available (load-time
                # parity-probed; bit-identical), numpy chunked pass
                # otherwise — the numpy pass was this node's top compute
                # (~24 core-s / 240k convs in SQL metrics, ~55 ns/byte of
                # uint64 multiply+cumsum temporaries through DRAM)
                idx, gh = probe_gram_matches_best(texts, k, p_arr, bitmap)
                o_ids = pdf["cid"].to_numpy()
                out_o: list[int] = []
                out_t: list[int] = []
                if idx.size:
                    # per-doc matched-pattern key set
                    key_set = np.sort(doc_pattern_key(idx, np.searchsorted(p_arr, gh)))
                    # fan each h1 match out to its needle group (vectorized)
                    g = np.searchsorted(g_h1, gh)
                    np.minimum(g, g_h1.size - 1, out=g)
                    is_h1 = g_h1[g] == gh
                    md, mg = idx[is_h1], g[is_h1]
                    reps = g_cnt[mg]
                    cand_doc = np.repeat(md, reps)
                    # concatenated per-group aranges: start[g] + local offset
                    csum = np.cumsum(reps)
                    local = np.arange(int(csum[-1]) if reps.size else 0) - np.repeat(
                        csum - reps, reps
                    )
                    cand_ndl = np.repeat(g_start[mg], reps) + local
                    # strict inner-shorter prefilter
                    doc_len = np.fromiter(
                        (len(t) for t in texts), dtype=np.int64, count=len(texts)
                    )
                    keep = n_len[cand_ndl] < doc_len[cand_doc]
                    cand_doc, cand_ndl = cand_doc[keep], cand_ndl[keep]
                    # second-anchor membership, one bulk searchsorted
                    h2 = n_h2[cand_ndl]
                    keys = doc_pattern_key(cand_doc, np.where(h2 >= 0, h2, 0))
                    pos = np.searchsorted(key_set, keys)
                    np.minimum(pos, key_set.size - 1, out=pos)
                    ok = (h2 < 0) | (key_set[pos] == keys)
                    cand_doc, cand_ndl = cand_doc[ok], cand_ndl[ok]
                    # exact containment on the few survivors (C substring)
                    for d, nd in zip(cand_doc.tolist(), cand_ndl.tolist()):
                        if n_texts[nd] in texts[d]:
                            out_o.append(int(o_ids[d]))
                            out_t.append(int(n_tix[nd]))
                yield pd.DataFrame(
                    {
                        "o_id": pd.array(out_o, dtype="int64"),
                        "tix": pd.array(out_t, dtype="int64"),
                    }
                )

        matches = (
            conv.filter(f"length(norm_text) >= {k}")
            .select("cid", "norm_text")
            .mapInPandas(probe, schema="o_id long, tix long")
        )
        out = matches.join(tix_df, "tix").filter("t_id != o_id").selectExpr(*oriented).distinct()
    if short_rows:
        shorts = F.broadcast(
            spark.createDataFrame(
                pa.table({"t_id": [i for i, _ in short_rows], "t_text": [t for _, t in short_rows]})
            )
        )
        others = conv.filter("length(norm_text) > 0").selectExpr(
            "cid AS o_id", "norm_text AS o_text"
        )
        short_pairs = (
            others.join(
                shorts,
                # strict inner-shorter + containment: the exact predicate
                # hydrate_and_verify applies, so this output is verified
                F.expr("length(o_text) > length(t_text) AND instr(o_text, t_text) > 0"),
                "inner",
            )
            .filter("t_id != o_id")
            .selectExpr(*oriented)
            .distinct()
        )
        out = out.unionByName(short_pairs)
    return out


def substring_candidates(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    verify_mode: str = "instr",
    cache_registry: list[DataFrame] | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """conversations -> (conv_a, conv_b, src='substring') containment edges,
    cid-keyed (pairs canonically oriented by cid; consumers of the bare
    output map back via verify.resolve_pair_ids).

    ``verify_mode`` accepts only ``"instr"`` (the one verifier). With a
    ``cache_registry`` list, the two frames the tiny-path barrier
    materializes are persisted into it for the caller to release
    (lsh.release_key_caches); without one, nothing is cached.

    ``counters`` (optional) gains ``substring_stop_grams``, observed on the
    gram df aggregate (``metrics.Observed``), and the tiny-path counts,
    which the bounded tiny-path collection yields as plain ints.

    ``probe`` (optional, a frame of cids): gram document frequencies and
    rarest grams are computed over all of ``conv``; the blocking join keeps
    only the probe docs' grams (see _gram_pairs), the tiny path runs as
    without it, and only the pairs touching the probe are emitted."""
    if verify_mode != "instr":
        raise ValueError(f"unknown substring verify_mode {verify_mode!r}; only 'instr'")
    gram_pairs, all_stopped = _gram_pairs(conv, cfg, counters, cache_registry, probe)
    # gram-path candidates hydrate + verify; tiny-path pairs arrive ALREADY
    # verified in the probe kernel (see _tiny_pairs) and must not re-enter
    # the hydration join. The two verified sets are disjoint by the inner
    # doc's class — a pair's inner (strictly shorter) doc either has a rare
    # sampled gram (gram path) or is tiny (tiny path), never both — so the
    # union needs no distinct to stay duplicate-free.
    verified = hydrate_and_verify(touching(gram_pairs, probe), conv).select("conv_a", "conv_b")
    tiny_verified = touching(_tiny_pairs(conv, all_stopped, cfg, counters), probe)
    # no materialization barrier anywhere in this detector: the single
    # downstream consumer (verify stage) triggers the whole dataflow in one
    # job; the gram explode/df exchanges are shared via ReusedExchange
    return verified.unionByName(tiny_verified).selectExpr("*", "'substring' AS src")


def hydrate_and_verify(raw: DataFrame, conv: DataFrame) -> DataFrame:
    """Candidate (conv_a, conv_b) cid pairs -> containment-verified pairs.

    Hydrates both texts (by cid), orients inner = shorter / outer = longer
    (equal lengths are the exact detector's job), and keeps the pairs whose
    inner text occurs in the outer one (JVM ``instr``). The gram path of
    substring_candidates is its one caller.

    The texts side is hinted ``shuffle_hash``: it is the whole corpus, so
    this is a shuffled key-equality join at any scale; without the hint
    Catalyst plans it as SortMergeJoin, which SORTS the full norm_text
    corpus twice (once per hydration side) plus the pair side — pure wasted
    work for an equality join."""
    texts = conv.selectExpr("cid", "norm_text", "length(norm_text) AS len").hint("shuffle_hash")
    hyd = (
        raw.join(texts.selectExpr("cid AS conv_a", "norm_text AS text_a", "len AS len_a"), "conv_a")
        .join(texts.selectExpr("cid AS conv_b", "norm_text AS text_b", "len AS len_b"), "conv_b")
        # orient: inner = shorter, outer = longer (equal lengths -> exact's job)
        .filter("len_a != len_b")
        .selectExpr(
            "conv_a",
            "conv_b",
            "CASE WHEN len_a < len_b THEN text_a ELSE text_b END AS text_in",
            "CASE WHEN len_a < len_b THEN text_b ELSE text_a END AS text_out",
            "least(len_a, len_b) AS len_in",
            "greatest(len_a, len_b) AS len_out",
        )
    )
    return hyd.filter("len_in < len_out AND instr(text_out, text_in) > 0")
