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
  4. **Verify** — candidates grouped by outer doc; a numpy suffix array is
     built once per outer text and every inner candidate binary-searched
     (``applyInPandas``, Arrow-batched). A pure-JVM ``instr`` variant exists
     for cross-checking (`verify_mode="instr"`); both produce identical
     results by construction and a test asserts it.

Only pairs with len(inner) < len(outer) are emitted — equal-text pairs are
the exact detector's job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def _gram_pairs(
    conv: DataFrame, cfg: DedupConfig, counters: dict | None
) -> tuple[DataFrame, DataFrame]:
    """Returns (candidate pairs from rare-gram collisions, ids of docs whose
    sampled grams were ALL stopped — they need the exhaustive tiny path).

    One gram explode -> one df groupBy -> one join-back; the per-doc argmin
    aggregation carries the min df, so "every gram stopped" is just
    ``min_df > maxdf`` on the SAME aggregate — no anti-join, no
    materialization barrier, no driver action. All consumers hang off shared
    exchanges (AQE ReusedExchange), so the explode+count pipeline runs once
    per pairs job even without a persist.
    """
    nonempty = conv.filter(F.length("norm_text") > 0)
    # cid keys: the gram explode is this detector's widest exchange, and the
    # blocking join below shuffles it again — 8-byte longs, not id strings
    grams = nonempty.select("cid", F.explode("sub_grams").alias("gram"))
    sizes = grams.groupBy("gram").agg(F.count("*").alias("df"))
    if counters is not None:
        stats = sizes.agg(
            F.sum((F.col("df") > cfg.substring_gram_maxdf).cast("long")).alias("stop_grams")
        ).collect()[0]
        counters["substring_stop_grams"] = int(stats["stop_grams"] or 0)
    # persisted: the tiny-path pattern collection (a driver take() in
    # _tiny_pairs) materializes this subtree before the main pairs job; the
    # caches make that barrier double as the subtree's materialization
    # instead of costing a second full explode+df pipeline run
    joined = grams.join(sizes, "gram", "inner").persist()
    # membership side of the blocking join: stop-listed grams dropped
    kept = joined.filter(F.col("df") <= cfg.substring_gram_maxdf)
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
    packed = F.expr(
        f"cast(df as decimal(38,0)) * {_TWO64} + (cast(gram as decimal(38,0)) + {_BIAS})"
    )
    rarest = joined.groupBy("cid").agg(
        F.min(packed).alias("p")
    ).select(
        "cid",
        F.expr(f"cast((p - (p % {_TWO64})) / {_TWO64} as long)").alias("min_df"),
        F.expr(f"cast(p % {_TWO64} - {_BIAS} as long)").alias("gram"),
    ).persist()
    inner_keys = rarest.filter(F.col("min_df") <= cfg.substring_gram_maxdf)
    # docs whose grams were ALL stop-listed: min_df over every gram > maxdf
    all_stopped = rarest.filter(F.col("min_df") > cfg.substring_gram_maxdf).select(
        "cid"
    )
    pairs = (
        inner_keys.alias("a")
        .join(kept.select("cid", "gram").alias("b"), "gram")
        .filter(F.col("a.cid") != F.col("b.cid"))
        .select(
            F.least("a.cid", "b.cid").alias("conv_a"),
            F.greatest("a.cid", "b.cid").alias("conv_b"),
        )
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
    ``cfg.substring_tiny_cap`` (take(cap+1) fails LOUD on overflow — a
    boilerplate-degenerate corpus should raise maxdf, not silently lose
    recall)."""
    spark = conv.sparkSession
    gramless = conv.filter(
        (F.length("norm_text") > 0) & (F.size("sub_grams") == 0)
    ).select("cid")
    tiny = (
        gramless.unionByName(tiny_ids)
        .distinct()
        .join(conv.select("cid", "norm_text"), "cid")
        .select(F.col("cid").alias("t_id"), F.col("norm_text").alias("t_text"))
    )
    rows = tiny.take(cfg.substring_tiny_cap + 1)
    if len(rows) > cfg.substring_tiny_cap:
        raise RuntimeError(
            f"substring tiny-path fallback exceeds cap {cfg.substring_tiny_cap}: "
            f"corpus is boilerplate-degenerate for "
            f"substring_gram_maxdf={cfg.substring_gram_maxdf}; raise the "
            "cap/maxdf or disable the substring detector"
        )
    if counters is not None:
        counters["substring_tiny_docs"] = len(rows)
    empty = spark.createDataFrame([], "conv_a long, conv_b long")
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
                [(tix_of[t], t_id) for t_id, t in long_rows], "tix long, t_id long"
            )
        )

        def probe(batches):
            import pandas as pd  # noqa: F811 (worker-side import)

            from ..signatures import probe_gram_matches_best

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
                    # per-doc matched-pattern key set (doc index < 2^40 and
                    # pattern index < 2^24, as inside probe_gram_matches)
                    patidx = np.searchsorted(p_arr, gh)
                    key_set = np.sort(
                        (idx.astype(np.uint64) << np.uint64(24))
                        | patidx.astype(np.uint64)
                    )
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
                    keys = (cand_doc.astype(np.uint64) << np.uint64(24)) | np.where(
                        h2 >= 0, h2, 0
                    ).astype(np.uint64)
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
            conv.filter(F.length("norm_text") >= k)
            .select("cid", "norm_text")
            .mapInPandas(probe, schema="o_id long, tix long")
        )
        out = (
            matches.join(tix_df, "tix")
            .filter(F.col("t_id") != F.col("o_id"))
            .select(
                F.least("t_id", "o_id").alias("conv_a"),
                F.greatest("t_id", "o_id").alias("conv_b"),
            )
            .distinct()
        )
    if short_rows:
        shorts = F.broadcast(
            spark.createDataFrame(short_rows, "t_id long, t_text string")
        )
        others = conv.filter(F.length("norm_text") > 0).select(
            F.col("cid").alias("o_id"), F.col("norm_text").alias("o_text")
        )
        short_pairs = (
            others.join(
                shorts,
                # strict inner-shorter + containment: the exact predicate
                # hydrate_and_verify applies, so this output is verified
                F.expr("length(o_text) > length(t_text) AND instr(o_text, t_text) > 0"),
                "inner",
            )
            .filter(F.col("t_id") != F.col("o_id"))
            .select(
                F.least("t_id", "o_id").alias("conv_a"),
                F.greatest("t_id", "o_id").alias("conv_b"),
            )
            .distinct()
        )
        out = out.unionByName(short_pairs)
    return out


def _verify_instr(cand: DataFrame) -> DataFrame:
    """Pure-JVM verification: inner text occurs in outer text."""
    return cand.filter(
        (F.col("len_in") < F.col("len_out"))
        & (F.expr("instr(text_out, text_in) > 0"))
    )


def _verify_suffix_array(cand: DataFrame) -> DataFrame:
    """Suffix-array verification kernel, one SA per outer doc group."""
    from ..suffix_array import build_suffix_array, sa_contains

    schema = "out_id long, in_id long"

    def verify_group(pdf: pd.DataFrame) -> pd.DataFrame:
        data = pdf["text_out"].iloc[0].encode("utf-8")
        sa = build_suffix_array(data)
        hits = [
            iid
            for iid, t in zip(pdf["in_id"], pdf["text_in"])
            if len(t) < len(pdf["text_out"].iloc[0])
            and sa_contains(data, sa, t.encode("utf-8"))
        ]
        return pd.DataFrame({"out_id": pdf["out_id"].iloc[0], "in_id": hits})

    hits = cand.select("out_id", "in_id", "text_out", "text_in").groupBy(
        "out_id"
    ).applyInPandas(verify_group, schema=schema)
    # shuffle_hash: the no-hint plan is a SortMergeJoin that SORTS the
    # text-laden hydrated candidate stream just to semi-join the (small)
    # verified id pairs — same rationale as the hydration joins
    return cand.join(hits.hint("shuffle_hash"), ["out_id", "in_id"], "left_semi")


def substring_candidates(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    verify_mode: str = "suffix_array",
) -> DataFrame:
    """conversations -> (conv_a, conv_b, src='substring') containment edges,
    cid-keyed (pairs canonically oriented by cid; consumers of the bare
    output map back via verify.resolve_pair_ids)."""
    gram_pairs, all_stopped = _gram_pairs(conv, cfg, counters)
    # gram-path candidates hydrate + verify; tiny-path pairs arrive ALREADY
    # verified in the probe kernel (see _tiny_pairs) and must not re-enter
    # the hydration join. The two verified sets are disjoint by the inner
    # doc's class — a pair's inner (strictly shorter) doc either has a rare
    # sampled gram (gram path) or is tiny (tiny path), never both — so the
    # union needs no distinct to stay duplicate-free.
    verified = hydrate_and_verify(gram_pairs, conv, verify_mode).select(
        "conv_a", "conv_b"
    )
    tiny_verified = _tiny_pairs(conv, all_stopped, cfg, counters)
    # no materialization barrier anywhere in this detector: the single
    # downstream consumer (verify stage) triggers the whole dataflow in one
    # job; the gram explode/df exchanges are shared via ReusedExchange
    return (
        verified.unionByName(tiny_verified).withColumn("src", F.lit("substring"))
    )


def hydrate_and_verify(
    raw: DataFrame,
    conv: DataFrame,
    verify_mode: str = "suffix_array",
) -> DataFrame:
    """Candidate (conv_a, conv_b) cid pairs -> containment-verified pairs.

    Hydrates both texts (by cid), orients inner = shorter / outer = longer
    (equal lengths are the exact detector's job), and verifies with the
    suffix-array kernel or the pure-JVM ``instr`` twin. Shared by the batch
    detector above and the streaming incremental arm
    (streaming._incremental_substring).

    Both hydration joins are pinned to shuffled hash joins (same rationale
    as the verify stage's): the texts side is the whole corpus, so this is
    a shuffled key-equality join at any scale; without the hint Catalyst
    plans it as SortMergeJoin, which SORTS the full norm_text corpus twice
    (once per hydration side) plus the pair side — pure wasted work for an
    equality join."""
    texts = conv.select(
        "cid", "norm_text", F.length("norm_text").alias("len")
    ).hint("shuffle_hash")
    hyd = (
        raw.join(
            texts.select(
                F.col("cid").alias("conv_a"),
                F.col("norm_text").alias("text_a"),
                F.col("len").alias("len_a"),
            ),
            "conv_a",
        )
        .join(
            texts.select(
                F.col("cid").alias("conv_b"),
                F.col("norm_text").alias("text_b"),
                F.col("len").alias("len_b"),
            ),
            "conv_b",
        )
        # orient: inner = shorter, outer = longer (equal lengths -> exact's job)
        .filter(F.col("len_a") != F.col("len_b"))
        .select(
            "conv_a",
            "conv_b",
            F.when(F.col("len_a") < F.col("len_b"), F.col("conv_a"))
            .otherwise(F.col("conv_b"))
            .alias("in_id"),
            F.when(F.col("len_a") < F.col("len_b"), F.col("conv_b"))
            .otherwise(F.col("conv_a"))
            .alias("out_id"),
            F.when(F.col("len_a") < F.col("len_b"), F.col("text_a"))
            .otherwise(F.col("text_b"))
            .alias("text_in"),
            F.when(F.col("len_a") < F.col("len_b"), F.col("text_b"))
            .otherwise(F.col("text_a"))
            .alias("text_out"),
            F.least("len_a", "len_b").alias("len_in"),
            F.greatest("len_a", "len_b").alias("len_out"),
        )
    )

    return _verify_suffix_array(hyd) if verify_mode == "suffix_array" else _verify_instr(hyd)
