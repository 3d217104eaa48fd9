"""Seeded workload inputs, generated once per seed and cached on disk.

Each workload's turns land as several parquet files (the shape a real corpus
arrives in) plus a planted-truth sidecar ``(conv_id, truth_cluster_id,
family)``. Generation is untimed; the engine only ever sees the turns files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from transcript_dedup.generate import generate_corpus

# batch_mixed: the FIXTURES.md family mix, sized so one pipeline run on
# local[4] lasts about one run_seconds window
MIXED_CONVS = 1000
# stream_incremental: a base ingest (part of set-up), then micro-batches of
# new conversations: measured ones while the window lasts, the last one
# traced
STREAM_BASE = 200
STREAM_BATCH = 50
STREAM_BATCHES = 3
STREAM_REDELIVER = 4  # conv_ids re-delivered per micro-batch (tombstones)
N_FILES = 4

TURNS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def du(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _write_turns(turns: pd.DataFrame, path: str) -> int:
    """Write turns as N_FILES parquet files (conversations kept whole);
    returns bytes written."""
    os.makedirs(path)
    ids = turns["conv_id"].unique()
    part = {c: i * N_FILES // len(ids) for i, c in enumerate(ids)}
    turns = turns.assign(ts=turns["ts"].dt.tz_localize("UTC"))
    nbytes = 0
    for k, chunk in turns.groupby(turns["conv_id"].map(part), sort=True):
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=TURNS_SCHEMA, preserve_index=False), f
        )
        nbytes += os.path.getsize(f)
    return nbytes


def _cached(cache_dir: str, build) -> dict:
    """Return the meta of a cached input set, building it atomically once."""
    meta_path = os.path.join(cache_dir, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{cache_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(cache_dir, ignore_errors=True)
        os.replace(tmp, cache_dir)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = cache_dir
    return meta


def batch_mixed(cache_root: str, seed: int) -> dict:
    def build(d: str) -> dict:
        turns, truth = generate_corpus(MIXED_CONVS, seed=seed)
        truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
        return {
            "turns": "turns",
            "input_bytes": _write_turns(turns, os.path.join(d, "turns")),
            "n_conv": int(truth.shape[0]),
        }

    return _cached(os.path.join(cache_root, f"batch_mixed-{MIXED_CONVS}-{seed}"), build)


def stream_incremental(cache_root: str, seed: int) -> dict:
    """Base ingest plus micro-batches. generate_corpus shuffles
    conversations, so slicing its order splits duplicate families across
    the base and the batches; each micro-batch also re-delivers a few
    already-ingested conv_ids unchanged."""

    def build(d: str) -> dict:
        turns, truth = generate_corpus(STREAM_BASE + STREAM_BATCH * STREAM_BATCHES, seed=seed)
        truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
        order = list(dict.fromkeys(turns["conv_id"]))
        rng = np.random.default_rng(seed)
        slices = [order[:STREAM_BASE]]
        for b in range(STREAM_BATCHES):
            lo = STREAM_BASE + b * STREAM_BATCH
            again = rng.choice(lo, size=STREAM_REDELIVER, replace=False)
            slices.append(order[lo : lo + STREAM_BATCH] + [order[i] for i in sorted(again)])
        batches = []
        for i, ids in enumerate(slices):
            rel = f"batch-{i:02d}"
            nbytes = _write_turns(turns[turns["conv_id"].isin(ids)], os.path.join(d, rel))
            batches.append({"turns": rel, "input_bytes": nbytes})
        return {"batches": batches}

    return _cached(
        os.path.join(
            cache_root,
            f"stream_incremental-{STREAM_BASE}+{STREAM_BATCHES}x{STREAM_BATCH}"
            f"r{STREAM_REDELIVER}-{seed}",
        ),
        build,
    )


def oracle_config():
    """The detection parameters the engine's defaults had when this
    benchmark was defined, pinned so the oracle does not move with them: a
    change of the defaults that loses pairs or merges more shows as a failed
    oracle check."""
    from transcript_dedup.config import DedupConfig

    return DedupConfig(
        shingle_k=5,
        num_perm=96,
        lsh_bands=32,
        lsh_rows=3,
        minhash_seed=0x5EED_1DEA,
        minhash_width=64,
        jaccard_threshold=0.35,
        simhash_bits=64,
        hamming_radius=6,
        length_tolerance_frac=0.2,
    )


def oracle_pairs(turn_dirs: list[str], path: str) -> set[tuple[str, str]]:
    """Closure pairs of the engine's pure-Python all-pairs oracle at
    ``oracle_config()`` over the given turns (re-delivered copies dropped),
    computed once and cached at ``path``."""
    from transcript_dedup.oracle import (
        build_records,
        closure_pair_set,
        oracle_pairs as all_pairs,
        transitive_closure,
    )

    if not os.path.exists(path):
        turns = pd.concat([pd.read_parquet(d) for d in turn_dirs]).drop_duplicates(
            ["conv_id", "turn_idx"]
        )
        cfg = oracle_config()
        pairs = closure_pair_set(transitive_closure(all_pairs(build_records(turns, cfg), cfg)))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(sorted(pairs), f)
        os.replace(tmp, path)
    with open(path) as f:
        return {tuple(p) for p in json.load(f)}


def truth_pairs(truth: pd.DataFrame, ids: set[str] | None = None) -> set[tuple[str, str]]:
    """All within-family pairs of the planted truth (optionally restricted
    to the conversations ingested so far)."""
    from transcript_dedup.oracle import closure_pair_set

    if ids is not None:
        truth = truth[truth["conv_id"].isin(ids)]
    return closure_pair_set(dict(zip(truth["conv_id"], truth["truth_cluster_id"])))


def component_pairs(components: pd.DataFrame) -> set[tuple[str, str]]:
    from transcript_dedup.oracle import closure_pair_set

    return closure_pair_set(dict(zip(components["conv_id"], components["component_id"])))
