"""Physical plan of the pairs stage.

The verify and substring hydration joins are pinned to shuffled hash joins
(the only plan that exists at corpus scale), and the production pairs stage
(pipeline.detect_pairs) must never plan a cartesian or nested-loop join.
"""

from __future__ import annotations

from transcript_dedup.detectors import exact_candidates, verify_candidates
from transcript_dedup.pipeline import detect_pairs
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures


def test_pipeline_plan_shape_gate(spark, turns200, cfg):
    """Plan-shape regression gate (round-6): render the physical plan of the
    full pairs stage from the production entry point (detect_pairs: all
    three detector arms unioned, hydrated, verified) and pin the properties
    the 100 TB audit rests on: no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere, hydration on ShuffledHashJoin, and the
    hydration join keys on the dictionary-encoded cid longs (a_cid/b_cid),
    not the conv_id strings. Rendered below and above the hot-key pre-pass
    floor (above it, the eager pre-pass feeds a broadcast hot-key map into
    the band grouping; cap 2 + unsampled probe make that map non-empty at
    this size). A future change that silently regresses any of these fails
    here instead of surfacing as a bench cliff. The same plan is archived
    in BENCH/PLANS.md by tools/explain_plans.py."""
    variants = {
        "below floor": cfg,
        "above floor": cfg.with_(
            band_hot_prepass_min_rows=0, band_key_cap=2, band_hot_sample_mod=1
        ),
    }
    # assert under BOTH AQE settings: the library session default runs AQE
    # on; the local-mode bench pipeline runs AQE off (round-7, measured
    # stage-wave latency). The 100 TB-audit properties must hold in both.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for name, c in variants.items():
                conv = add_signatures(reconstruct_conversations(turns200), c)
                counters: dict = {}
                pairs = detect_pairs(conv, c, counters)
                plan = pairs._jdf.queryExecution().executedPlan().toString()
                ctx = f" (aqe={aqe}, {name})"
                assert "CartesianProduct" not in plan, "cartesian join regressed" + ctx
                assert "BroadcastNestedLoopJoin" not in plan, "BNLJ regressed" + ctx
                assert "ShuffledHashJoin" in plan, "hydration lost shuffle_hash pin" + ctx
                assert "a_cid#" in plan and "b_cid#" in plan, "hydration not cid-keyed" + ctx
                assert (counters["lsh_hot_keys_prepass"] > 0) == (name == "above floor"), (
                    counters,
                    ctx,
                )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def test_shuffle_hash_join_in_plan(spark, turns200, cfg):
    conv = add_signatures(reconstruct_conversations(turns200), cfg)
    cand = exact_candidates(conv)
    pairs = verify_candidates(cand, conv, cfg)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
