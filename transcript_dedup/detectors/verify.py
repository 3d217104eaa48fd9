"""Candidate verification + scoring — the ``compareFiles`` analogue
(/root/reference/src/duplicates.ts:44-83), expressed entirely as built-in
column expressions (whole-stage codegen, no Python).

Signals and weights (reference code wins over README — SURVEY.md 2.11):

  content   +50  content-hash equality            ~ artist+title exact (:97-108)
  fuzzy     +30  band collision AND (est-Jaccard
                 >= tau OR SimHash Hamming <= r)  ~ filename Levenshtein (:110-140)
                 (OR, deliberately: SimHash is the ALTERNATIVE verifier for
                 short docs whose shingle overlap underestimates similarity
                 — measured, see config.py; the reference's own gate is a
                 disjunction of verifiers, duplicates.ts:56-58. The OR-gate
                 false-positive budget is pinned by
                 tests/test_properties.py::test_fuzzy_or_gate_fp_budget.)
  substring +30  verified containment edge        ~ (graft addition)
  length    +15  |chars_a - chars_b| within band  ~ duration +/- 5 s (:85-95)
  roles      +5  identical role sequence          ~ album match (:142-148)

Gate (reference: artistTitle || filename, duplicates.ts:56-58):
``content OR fuzzy OR substring``; length/roles only add confidence.

est-Jaccard = fraction of agreeing MinHash positions (zip_with/aggregate on
the signature arrays) — deterministic given identical signatures, so the
pure-Python oracle computes the identical value.

suggested_keep follows selectBestFile (duplicates.ts:198-225): combined
score with strict ``>`` so the first-seen side (conv_a) wins ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig

#: graft analogue of tagCount*1000 + qualityScore (duplicates.ts:215):
#: completeness buckets (0-10) are the "tag count", total_chars the quality.
QUALITY_SCORE_SQL = "round(completeness * 10) * 100000 + total_chars"


def quality_score(prefix: str = "") -> F.Column:
    return F.expr(
        QUALITY_SCORE_SQL.replace("completeness", f"{prefix}completeness").replace(
            "total_chars", f"{prefix}total_chars"
        )
    )


def resolve_pair_ids(
    pairs: DataFrame, conv: DataFrame, cols: tuple[str, str] = ("conv_a", "conv_b")
) -> DataFrame:
    """Map a raw detector pair frame (cid longs) back to conv_id strings,
    re-orienting by string order — for consumers of bare detector output
    (verify_candidates does this itself via its hydration payload)."""
    ids = conv.select("cid", "conv_id")
    a, b = cols
    out = (
        pairs.join(ids.toDF("cid", "_ida"), pairs[a] == F.col("cid"))
        .drop("cid", a)
        .join(ids.toDF("cid", "_idb"), pairs[b] == F.col("cid"))
        .drop("cid", b)
    )
    rest = [c for c in out.columns if c not in ("_ida", "_idb")]
    return out.select(
        F.least("_ida", "_idb").alias(a), F.greatest("_ida", "_idb").alias(b), *rest
    )


def verify_candidates(
    candidates: DataFrame, conv: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """candidates(conv_a, conv_b, src — cid longs) + conversations ->
    candidate_pairs.

    Output (external string surface — ids restored from the hydration
    payload, pairs re-oriented by conv_id string order): conv_a, conv_b,
    is_match, confidence int, match_reasons array<string>, suggested_keep,
    est_jaccard, hamming.
    """
    # candidates arrive keyed by cid (the dictionary-encoded long id —
    # signatures.add_signatures): the groupBy below and both hydration joins
    # run on primitive longs; conv_id strings re-enter only as hydration
    # payload and the output restores string ids + string-ordered pair
    # orientation, so downstream consumers see exactly the pre-cid surface.
    # detector memberships as a bitmask folded with bit_or: a primitive
    # codegen aggregate instead of collect_set's ObjectHashAggregate (the
    # set-of-strings version measured 186 core-s over ~2M candidate rows)
    mask = (
        F.when(F.col("src") == "exact", F.lit(1))
        .when(F.col("src") == "lsh", F.lit(2))
        .otherwise(F.lit(4))
    )
    srcs = (
        candidates.withColumn("_m", mask)
        .groupBy("conv_a", "conv_b")
        .agg(F.bit_or("_m").alias("src_mask"))
    )

    # hydration payload is shuffled twice (a/b side): keep it minimal.
    # role_seq is compared ONLY for equality, so ship its 64-bit hash
    # instead of the O(turns)-byte string (collision => a spurious +5
    # confidence, P ~ 2^-64 per pair — far below the content-hash arm's
    # own collision floor). cid leads (join key); conv_id rides as payload
    # only so the output can restore string ids.
    feats = conv.select(
        "cid",
        "conv_id",
        "minhash",
        "content_hash",
        "simhash",
        "n_shingles",
        "total_chars",
        F.xxhash64("role_seq").alias("role_key"),
        "completeness",
    )
    # pairs <-> conv features is a key-equality join whose conv side is the
    # whole corpus: at 10^12 turns it can only ever be a shuffled join, so
    # run that plan at every scale. (Auto-broadcast of the conv side "works"
    # at bench scale but serializes ~12 s of relation collect+build per side
    # on the driver — measured, see BENCH/BASELINE.md round 3.)
    a = feats.toDF(*[f"a_{c}" for c in feats.columns]).hint("shuffle_hash")
    b = feats.toDF(*[f"b_{c}" for c in feats.columns]).hint("shuffle_hash")
    hyd = (
        srcs.join(a, srcs.conv_a == a.a_cid)
        .join(b, srcs.conv_b == b.b_cid)
        .drop("a_cid", "b_cid")
    )
    est_j = (
        F.aggregate(
            F.zip_with("a_minhash", "b_minhash", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(cfg.num_perm)
    )
    scored = hyd.withColumn("est_jaccard", est_j).select(
        "a_conv_id",
        "b_conv_id",
        "src_mask",
        "est_jaccard",
        F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))).alias("hamming"),
        (
            (F.col("a_content_hash") == F.col("b_content_hash"))
            & (F.col("a_n_shingles") > 0)
            & (F.col("b_n_shingles") > 0)
        ).alias("m_content"),
        (
            F.abs(F.col("a_total_chars") - F.col("b_total_chars"))
            <= F.greatest("a_total_chars", "b_total_chars") * F.lit(cfg.length_tolerance_frac)
        ).alias("m_length"),
        (F.col("a_role_key") == F.col("b_role_key")).alias("m_roles"),
        quality_score("a_").alias("a_q"),
        quality_score("b_").alias("b_q"),
    )
    # second factor on the exact arm: identical texts have identical minhash
    # arrays, so est_jaccard == 1.0 exactly; a 64-bit content_hash collision
    # between different texts (expected O(1) at 10^10 docs) would need a
    # simultaneous full-signature collision to cause a false merge
    scored = scored.withColumn(
        "m_content", F.col("m_content") & (F.col("est_jaccard") == F.lit(1.0))
    ).withColumn(
        "m_fuzzy",
        (F.col("src_mask").bitwiseAND(2) != 0)
        & (
            (F.col("est_jaccard") >= F.lit(cfg.jaccard_threshold))
            | (F.col("hamming") <= F.lit(cfg.hamming_radius))
        ),
    ).withColumn("m_substring", F.col("src_mask").bitwiseAND(4) != 0)

    w = cfg
    # restore the external (string) surface: pairs oriented by conv_id
    # string order — exactly the pre-cid contract — regardless of the
    # internal cid orientation the detectors emitted
    out = scored.select(
        F.least("a_conv_id", "b_conv_id").alias("conv_a"),
        F.greatest("a_conv_id", "b_conv_id").alias("conv_b"),
        "est_jaccard",
        "hamming",
        (F.col("m_content") | F.col("m_fuzzy") | F.col("m_substring")).alias("is_match"),
        (
            F.col("m_content").cast("int") * w.w_exact
            + F.col("m_fuzzy").cast("int") * w.w_fuzzy
            + F.col("m_substring").cast("int") * w.w_fuzzy
            + F.col("m_length").cast("int") * w.w_length
            + F.col("m_roles").cast("int") * w.w_meta
        ).alias("confidence"),
        F.filter(
            F.array(
                F.when(F.col("m_content"), F.lit("content")),
                F.when(F.col("m_fuzzy"), F.lit("fuzzy")),
                F.when(F.col("m_substring"), F.lit("substring")),
                F.when(F.col("m_length"), F.lit("length")),
                F.when(F.col("m_roles"), F.lit("roles")),
            ),
            lambda x: x.isNotNull(),
        ).alias("match_reasons"),
        # strictly greater quality wins; ties keep the string-min side (the
        # reference keeps first-seen, duplicates.ts:216-221 — identical to
        # the pre-cid "conv_a keeps ties" since conv_a was the string-min)
        F.when(F.col("a_q") > F.col("b_q"), F.col("a_conv_id"))
        .when(F.col("b_q") > F.col("a_q"), F.col("b_conv_id"))
        .otherwise(F.least("a_conv_id", "b_conv_id"))
        .alias("suggested_keep"),
    )
    return out
