"""MinHash/LSH banded candidate join with explicit skew mitigation.

Scale replacement for the reference's O(n^2) nested-loop comparator
(/root/reference/src/duplicates.ts:19-39): each conversation's MinHash
signature is split into ``bands`` bands of ``rows`` values; a band key is
``xxhash64(band_id, slice(signature))``; conversations colliding on any band
key become candidates. All band arithmetic is built-in expressions
(JVM/codegen) — the signature itself was computed upstream by the Arrow
kernel.

Skew story (SURVEY.md section 4.2 — the custom half on top of AQE):
boilerplate-dominated bands produce degenerate keys whose within-key pair
count is quadratic; AQE can split partitions but cannot cut Cartesian
semantics. Mitigation, by key size ``sz``:

  sz > band_key_drop  -> dropped entirely (stop-bands, counted + reported);
  sz > band_key_cap   -> salted with ``pmod(cid, n_salts)``,
                         ``n_salts = min(band_salt_max, ceil(sz/cap))`` —
                         pairs only within a salt subgroup. Within-key recall
                         drops to ~1/salt for that band, but a true near-dup
                         pair collides on several independent bands, so union
                         recall survives (measured by the oracle recall test);
  otherwise           -> all within-key pairs.

Execution shape: ONE row-level shuffle. Band keys are grouped once
(collect_list of members per key) and candidate pairs are generated MAP-SIDE
from each group's member list. A degenerate key must never buffer its whole
member list in that aggregation, so a cheap pre-pass runs first: a
deterministic 1/``band_hot_sample_mod`` hash-sample of the band-key rows
estimates hot keys, their EXACT sizes are counted (count-only aggregation,
bounded state) and broadcast back, and rows of keys with exact sz >
band_key_drop are filtered out — while keys with cap < sz <= drop get their
salt added to the grouping key — BEFORE the collect_list. Keys the sample
misses (overwhelmingly < a few x cap) fall back to the identical
post-aggregation filter/salt logic, so the emitted pair set is invariant to
sampling accuracy; only the memory bound depends on it.

The pre-pass is eager and driver-side: the hot-key map is collected to the
driver (it is broadcast anyway) and its counters are read while the band-key
frame is persisted, so the sample and exact-count passes do not each
recompute the rows x bands explode. That cache lives only inside
``lsh_candidates``: it is unpersisted before the function returns, on
success or failure, and the lazy pairs frame it returns recomputes the
explode once when it runs. Below ``band_hot_prepass_min_rows`` the pre-pass
is skipped and nothing is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def band_keys(conv: DataFrame, cfg: DedupConfig) -> DataFrame:
    """conversations -> (cid, band_id, band_hash); empty docs skipped.

    cid (8-byte long) instead of the conv_id string: this frame is rows x
    bands wide — the single biggest exchange in the whole pipeline — so the
    per-row id bytes dominate its shuffle size."""
    # explicit per-band expressions (codegen) instead of
    # transform(sequence(...), lambda) — HigherOrderFunctions run in the
    # expression interpreter; 42 unrolled xxhash64(slice) terms compile
    bands_arr = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice("minhash", b * cfg.lsh_rows + 1, cfg.lsh_rows))
            for b in range(cfg.lsh_bands)
        ]
    )
    return (
        conv.filter(F.col("n_shingles") > 0)
        .select("cid", F.posexplode(bands_arr).alias("band_id", "band_hash"))
    )


def _hot_band_sizes(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Small broadcastable map (band_id, band_hash, hot_sz) of band keys the
    hash-sample estimates hot, with their EXACT sizes (> band_key_cap only).

    The sample is keyed on a seeded xxhash64 of cid (deterministic,
    independent of physical partitioning, decorrelated from the band salt
    which hashes the bare cid). A key of size s appears ~s/mod times in the
    sample; the
    candidate threshold max(2, cap/mod) flags every key at >= a few x cap
    with overwhelming probability while keeping the candidate set ~|sample| /
    threshold at worst. Candidate keys then get exact count-only aggregation
    (O(1) state per key — no list) so downstream pre-drop/pre-salt decisions
    use true sizes and the pair set stays exact.
    """
    mod = cfg.band_hot_sample_mod
    thresh = max(2, cfg.band_key_cap // mod)
    sampled = keys.filter(
        F.pmod(F.xxhash64(F.lit("hot-key-probe"), "cid"), F.lit(mod)) == 0
    )
    cand = (
        sampled.groupBy("band_id", "band_hash")
        .count()
        .filter(F.col("count") >= thresh)
        .select("band_id", "band_hash")
    )
    return (
        keys.join(F.broadcast(cand), ["band_id", "band_hash"], "left_semi")
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("hot_sz"))
        .filter(F.col("hot_sz") > cfg.band_key_cap)
    )


def lsh_candidates(
    conv: DataFrame,
    cfg: DedupConfig,
    counters: dict | None = None,
    n_conv: int | None = None,
) -> DataFrame:
    """conversations(minhash, n_shingles) -> (conv_a, conv_b, src='lsh'),
    cid-keyed (pairs canonically oriented by cid; the verify stage restores
    conv_id strings at its output).

    ONE row-level shuffle: band keys are grouped once (collect_list of
    members per key x salt subgroup) and candidate pairs are generated
    MAP-SIDE from each group's member list — the former sizes-groupBy +
    join-back + salted self-join (two more 10M-row exchanges, the dominant
    bandwidth-bound waves in the 240k profile) collapse into per-group
    combination expressions. Group fan-out is bounded twice over:

      hot keys (sampled pre-pass, exact sizes broadcast — _hot_band_sizes):
        sz > band_key_drop        -> rows dropped BEFORE aggregation;
        cap < sz <= drop          -> salt joins the grouping key, so each
                                     buffered list is one ~cap-sized (never
                                     > drop) salt subgroup;
      keys the sample missed (whp < a few x cap members):
        identical logic applied post-aggregation, exactly as if the pre-pass
        never existed — same stop/drop thresholds, same salt function, so
        the emitted pair set is bit-identical either way.

    Most band keys are singletons (~4.4M distinct keys for 5M rows at 120k),
    so the per-group lists stay tiny and the emitted pair count is unchanged.
    Duplicate pairs across bands are absorbed by the verify stage's
    groupBy(conv_a, conv_b), as before.

    ``n_conv`` (optional): the corpus row count, when the caller already
    knows it (the pipeline paths computed it for the cid-injectivity
    assert). At or below cfg.band_hot_prepass_min_rows the hot-key
    pre-pass is skipped — see the config field's rationale; the pair set
    is identical either way, only the aggregation memory bound changes.

    Leaves nothing persisted: the band-key cache the pre-pass reads is
    released before this returns (see the module docstring).
    """
    if (
        n_conv is not None
        and n_conv <= cfg.band_hot_prepass_min_rows
        and cfg.band_hot_sample_mod > 0
    ):
        cfg = cfg.with_(band_hot_sample_mod=0)
    prepass = cfg.band_hot_sample_mod > 0
    keys = band_keys(conv, cfg)
    on = ["band_id", "band_hash"]
    if prepass:
        # the pre-pass reads the band-key frame up to three times (sample
        # aggregation, exact-count aggregation, post-aggregation counters);
        # without a cache each read recomputes the rows x bands explode.
        # MEMORY_AND_DISK: at cluster scale this frame is rows x bands wide
        # and must be allowed to spill rather than evict the conv cache.
        from pyspark import StorageLevel

        keys.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if prepass:
            hot_sizes = _hot_band_sizes(keys, cfg)
            # eager and lineage-free: the map is broadcast, so it is
            # driver-sized already; a local relation keeps the returned plan
            # off the cache released below and leaves no checkpoint RDD
            hot_rows = hot_sizes.collect()
            hot = conv.sparkSession.createDataFrame(hot_rows, hot_sizes.schema)
            keyed = keys.join(F.broadcast(hot), on, "left")
        else:
            hot_rows = []
            keyed = keys.withColumn("hot_sz", F.lit(None).cast("long"))

        # pre-drop: stop-band rows never reach the aggregation buffer
        live = keyed.filter(
            F.col("hot_sz").isNull() | (F.col("hot_sz") <= cfg.band_key_drop)
        )
        # pre-salt: known-hot keys group by (key, salt subgroup)
        n_salts_pre = F.least(
            F.lit(cfg.band_salt_max), F.ceil(F.col("hot_sz") / F.lit(cfg.band_key_cap))
        )
        # salt = pmod(cid, n): cid IS xxhash64(conv_id) (signatures.py), so
        # this equals the pre-cid pmod(xxhash64(conv_id), n) salt bit-for-bit
        # — the pair set is unchanged by the id encoding — and costs no
        # extra hash
        presalt = F.when(
            F.col("hot_sz").isNotNull(), F.pmod(F.col("cid"), n_salts_pre)
        ).otherwise(F.lit(0))

        groups = live.groupBy("band_id", "band_hash", presalt.alias("psalt")).agg(
            F.collect_list("cid").alias("m"),
            F.first("hot_sz").alias("hot_sz"),
        )
        sz = F.size("m")
        is_pre = F.col("hot_sz").isNotNull()

        if counters is not None:
            dropped = [r["hot_sz"] for r in hot_rows if r["hot_sz"] > cfg.band_key_drop]
            # post-aggregation stats only describe keys the pre-pass missed
            post = groups.filter(~is_pre).agg(
                F.sum(F.when(sz > cfg.band_key_drop, sz)).alias("dropped_rows"),
                F.sum((sz > cfg.band_key_drop).cast("long")).alias("dropped_keys"),
                F.sum(
                    ((sz > cfg.band_key_cap) & (sz <= cfg.band_key_drop)).cast("long")
                ).alias("salted_keys"),
            ).collect()[0]
            counters["lsh_stop_band_rows"] = int(post["dropped_rows"] or 0) + sum(dropped)
            counters["lsh_stop_band_keys"] = int(post["dropped_keys"] or 0) + len(dropped)
            counters["lsh_salted_keys"] = (
                int(post["salted_keys"] or 0) + len(hot_rows) - len(dropped)
            )
            counters["lsh_hot_keys_prepass"] = len(hot_rows)
            counters["lsh_predropped_rows"] = sum(dropped)
    finally:
        if prepass:
            keys.unpersist()

    # post-aggregation salt for keys the sample missed; pre-salted groups are
    # already one salt subgroup, so every within-group pair is valid there
    n_salts = F.least(F.lit(cfg.band_salt_max), F.ceil(sz / F.lit(cfg.band_key_cap)))

    def salt(x):
        # pmod(cid, n) — same bit-compat rationale as the pre-salt above
        return F.when(
            ~is_pre & (sz > cfg.band_key_cap), F.pmod(x, n_salts)
        ).otherwise(F.lit(0))

    pair_structs = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.filter(
                    # elements strictly after position i (slice is 1-based)
                    F.slice(F.col("m"), i + F.lit(2), F.size("m")),
                    lambda y: salt(x) == salt(y),
                ),
                lambda y: F.struct(
                    F.least(x, y).alias("conv_a"), F.greatest(x, y).alias("conv_b")
                ),
            ),
        )
    )
    buckets = groups.filter((sz >= 2) & (is_pre | (sz <= cfg.band_key_drop)))
    # round-robin repartition of the multi-member buckets (a small fraction
    # of group rows) between the band groupBy and the m^2 pair explosion.
    # Without it the explosion fuses into the groupBy reducer task, so one
    # partition's sum(m^2) over its buckets sets the stage's critical path
    # (the last named straggler: ~5.5 s task vs 0.9 s median at pinned 4
    # cores). 4x the session shuffle width gives enough slots that no slot
    # collects several heavy buckets while the extra scheduling waves stay
    # sub-second (round 6: wall -4% mean across three interleaved pinned
    # pairs at T4, T1 neutral-to-positive). Placement only — the emitted
    # pair set is unchanged.
    try:
        n_pair_parts = 4 * int(
            buckets.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        # conf can be non-numeric (e.g. "auto" under some AQE setups)
        n_pair_parts = 4 * buckets.sparkSession.sparkContext.defaultParallelism
    return (
        buckets.repartition(n_pair_parts)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.conv_a").alias("conv_a"),
            F.col("p.conv_b").alias("conv_b"),
            F.lit("lsh").alias("src"),
        )
    )
