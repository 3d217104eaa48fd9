"""Layer-by-layer tracing for the traced run.

The traced run drives the engine's real entry points unchanged
(``DedupPipeline.run``, ``StreamingDedup.process_batch`` and ``compact``).
For the duration of the pass, the layer functions the driving module imports
are wrapped: each call runs inside one span (and so one Spark job group), and
its output is checkpointed and counted before the span closes, so the span
holds that layer's work and nothing downstream of it. ``TableIO.write`` gets
an ``io`` span the same way.
"""

from __future__ import annotations

import inspect
import os
from contextlib import contextmanager

from workloads import du

# module global -> layer name, for transcript_dedup.pipeline
PIPELINE_LAYERS = {
    "reconstruct_conversations": "reconstruct",
    "add_signatures": "signatures",
    "exact_candidates": "detectors.exact",
    "lsh_candidates": "detectors.lsh",
    "substring_candidates": "detectors.substring",
    "verify_candidates": "detectors.verify",
    "connected_components": "cluster",
    "make_decisions": "decide",
}
PIPELINE_CANDIDATES = ("detectors.lsh", "detectors.substring")

# module global -> layer name, for transcript_dedup.streaming. There the exact
# arm is the outer new-vs-all candidate join (_incremental_candidates), so
# detectors.exact also holds the LSH band join and the candidate union;
# band-key building and the substring arm are its child spans.
STREAM_LAYERS = {
    "reconstruct_conversations": "reconstruct",
    "add_signatures": "signatures",
    "_incremental_candidates": "detectors.exact",
    "band_keys": "detectors.lsh",
    "_incremental_substring": "detectors.substring",
    "verify_candidates": "detectors.verify",
    "connected_components": "cluster",
    "make_decisions": "decide",
}
STREAM_CANDIDATES = ("detectors.substring",)  # band_keys emits keys, not pairs


class Stats:
    """Rows out per layer plus the engine's own detector/cluster counters."""

    def __init__(self, candidate_layers: tuple[str, ...]):
        # layers whose output rows are detector candidate pairs
        self.candidate_layers = candidate_layers
        self.rows: dict[str, int] = {}
        self._counter_dicts: list[dict] = []  # the dicts handed to the engine
        self.matched = 0
        self.io_bytes = 0

    def add_rows(self, layer: str, n: int) -> None:
        self.rows[layer] = self.rows.get(layer, 0) + n

    def materialize(self, layer: str, df):
        # a local checkpoint computes the layer once and cuts its lineage,
        # so downstream plans stay as small as in the untraced run
        df = df.localCheckpoint(eager=True)
        self.add_rows(layer, df.count())
        return df

    def watch(self, counters: dict) -> None:
        # the pipeline hands one dict to several layers; count it once
        if not any(c is counters for c in self._counter_dicts):
            self._counter_dicts.append(counters)

    def counters(self) -> dict[str, float]:
        from transcript_dedup.signatures import _native_lib

        e: dict[str, float] = {}
        for d in self._counter_dicts:
            for k, v in d.items():
                if isinstance(v, (int, float)):
                    e[k] = e.get(k, 0) + v
        verified = self.rows.get("detectors.verify", 0)
        cand = {k: self.rows.get(k, 0) for k in self.candidate_layers}
        return {
            # the same loader the signature kernel calls on each worker
            "signatures.native_kernel": int(_native_lib() is not None),
            "detectors.lsh.candidates": cand.get("detectors.lsh", 0),
            "detectors.lsh.salted_keys": e.get("lsh_salted_keys", 0),
            "detectors.lsh.stop_band_rows": e.get("lsh_stop_band_rows", 0),
            "detectors.lsh.hot_keys_prepass": e.get("lsh_hot_keys_prepass", 0),
            "detectors.substring.candidates": cand.get("detectors.substring", 0),
            "detectors.substring.tiny_docs": e.get("substring_tiny_docs", 0),
            "detectors.substring.stop_grams": e.get("substring_stop_grams", 0),
            "detectors.verify.match_ratio": self.matched / verified if verified else 0.0,
            "cluster.iterations": e.get("cc_iterations", 0),
            "cluster.driver_edges": e.get("cc_driver_edges", 0),
            "io.bytes_written": self.io_bytes,
        }


def _wrap_layer(fn, layer: str, rec, stats: Stats):
    sig = inspect.signature(fn)
    takes_counters = "counters" in sig.parameters

    def wrapped(*a, **kw):
        if takes_counters:
            # callers pass counters positionally or not at all
            bound = sig.bind(*a, **kw)
            if bound.arguments.get("counters") is None:
                bound.arguments["counters"] = {}
            stats.watch(bound.arguments["counters"])
            a, kw = bound.args, bound.kwargs
        with rec.span(layer):
            df = stats.materialize(layer, fn(*a, **kw))
        if layer == "detectors.verify":
            stats.matched += df.filter("is_match").count()
        return df

    return wrapped


@contextmanager
def traced_layers(module, layers: dict[str, str], io, rec, stats: Stats):
    """Wrap ``module``'s layer functions and ``io.write`` for the block."""
    originals = {name: getattr(module, name) for name in layers}
    write = io.write

    def traced_write(df, table, *a, **kw):
        with rec.span("io"):
            snap_id = write(df, table, *a, **kw)
        snap = io.current_snapshot(table)
        stats.add_rows("io", snap["delta_rows"])
        stats.io_bytes += du(os.path.join(io.base_dir, table, f"snap-{snap_id}"))
        return snap_id

    try:
        for name, layer in layers.items():
            setattr(module, name, _wrap_layer(originals[name], layer, rec, stats))
        io.write = traced_write
        yield
    finally:
        for name, fn in originals.items():
            setattr(module, name, fn)
        io.__dict__.pop("write", None)
