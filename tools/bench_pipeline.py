"""Run the full dedup pipeline once at a given parallelism, print one JSON
line. Invoked as a subprocess by bench.py so each parallelism level gets an
identical cold JVM (no warm-JIT / leftover-cache asymmetry between levels).

    python tools/bench_pipeline.py <cores> <corpus_parquet>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cores = int(sys.argv[1])
    corpus = sys.argv[2]

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.generate import corpus_to_spark, generate_corpus
    from transcript_dedup.pipeline import run_dedup_dataframes
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.session import get_spark
    from transcript_dedup.signatures import add_signatures

    # AQE OFF for the LOCAL-MODE scaling bench only (round-7, measured):
    # in a single JVM every AQE query-stage materialization is a driver
    # scheduling round-trip; across the pipeline's ~30 stage-jobs that wave
    # latency costs 4-9 s at pinned T4 and ~2 s at T1 (interleaved A/B,
    # decisions bit-identical) — a T4-specific artifact of local mode, not
    # of the dataflow. The LIBRARY session default keeps AQE + skew-join ON
    # (production posture: on a real multi-executor cluster stages run
    # seconds-to-minutes and AQE's skew splitting / runtime re-plan pay for
    # the waves; the plan-shape gate asserts the pairs plan is safe under
    # BOTH settings). TD_EXTRA_CONF still overrides.
    conf = {"spark.sql.adaptive.enabled": "false"}
    conf.update(json.loads(os.environ.get("TD_EXTRA_CONF", "{}")))
    spark = get_spark(
        f"bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    # config override hook for A/B experiments (e.g. TD_CFG='{"num_perm": 96,
    # "lsh_bands": 32}') — keeps ablations on the exact pinned subprocess
    # protocol the official bench uses
    cfg = DedupConfig().with_(**json.loads(os.environ.get("TD_CFG", "{}")))

    # warmup: tiny end-to-end run primes JIT, Arrow python workers, codegen.
    # One planted gramless doc (29 chars, no content-defined gram sampled at
    # mod=64) routes through the substring tiny-path so the pattern-probe
    # mapInPandas kernel's workers/codegen warm here too — otherwise its
    # first (cold) execution lands inside the measured window (node metrics
    # showed ~66 core-s of python-worker initialize at 4 pinned cores).
    wpdf = generate_corpus(50, seed=7)[0]
    tiny = wpdf.iloc[:1].copy()
    tiny["conv_id"] = "warm-tiny"
    tiny["turn_idx"] = 0
    tiny["text"] = "warm tiny probe doc 0 variant"
    import pandas as _pd

    wturns = corpus_to_spark(spark, _pd.concat([wpdf, tiny], ignore_index=True))
    run_dedup_dataframes(add_signatures(reconstruct_conversations(wturns), cfg), cfg)[
        "decisions"
    ].count()
    # the tiny warmup schedules 1-2 python tasks, so only 1-2 Arrow workers
    # are warm after it; the measured run would fork the remaining (cores-k)
    # workers COLD inside the wall (node metrics: up to ~14 s/task of
    # "initialize Python workers" under contention, all at the HI level
    # since lo reuses its single warm worker). Spawn the full complement now.
    from transcript_dedup.session import prewarm_python_workers

    prewarm_python_workers(spark, cores)
    spark.catalog.clearCache()

    turns = spark.read.parquet(corpus)
    t0 = time.perf_counter()
    conv = add_signatures(reconstruct_conversations(turns), cfg)
    res = run_dedup_dataframes(conv, cfg)
    n_dec = res["decisions"].count()
    wall = time.perf_counter() - t0
    # untimed: counts the pipeline's already-materialized conv cache, not
    # the raw turns (a distinct-count pre-scan cost ~5-15 s per launch)
    n_convs = res["conversations"].count()
    print(
        json.dumps(
            {
                "cores": cores,
                "wall_sec": round(wall, 3),
                "convs": n_convs,
                "decisions": n_dec,
                "conv_per_sec": round(n_convs / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
