"""transcript_dedup benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric of BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. Progress goes to stderr. Everything the run writes (inputs
cached per seed, engine output, Spark scratch, span dumps) stays under
``.perfbench_work/`` in the repository root.

The engine is driven only through its public entry points on a
``get_spark()`` session with the library defaults at ``local[<cores>]``.
See perfbench/README.md for the workloads, the metrics and which layer
metric is expected to move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("batch_mixed", "stream_incremental")
LAYERS = (
    "reconstruct",
    "signatures",
    "detectors.exact",
    "detectors.lsh",
    "detectors.substring",
    "detectors.verify",
    "cluster",
    "decide",
    "io",
    "streaming",
)
# oracle parity: the engine's own recall contract (tests/test_recall_1k.py)
ORACLE_RECALL_MIN = 0.99
# planted truth: the gates of the benchmark's definition (recall >= 0.99, no
# false merge) are logged only, because the unchanged engine misses them on
# most seeds, and so does the oracle on the same input: recall 0.93-1.00, and
# up to 8 closure pairs joining conversations the generator planted apart.
# The counted checks are a recall floor the engine met on every seed tried
# and no more false merges than the oracle makes.
PLANTED_RECALL_GATE = 0.99
PLANTED_RECALL_MIN = 0.90
DEADLINE_S = 170  # the run must end well inside 180 s


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class Run:
    """One benchmark process: session set-up, the workload's measured loop,
    output checks, and (with tracing) one extra layer-by-layer pass."""

    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
        self.op_group = f"{self.run_id}/untraced"
        self.attempted = 0
        self.failed = 0
        self.cores = len(os.sched_getaffinity(0))

    # -- bookkeeping -------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")

    def out_dir(self, tag: str) -> str:
        return tempfile.mkdtemp(prefix=f"{tag}-", dir=self.scratch)

    def turns_at(self, path: str):
        from transcript_dedup.streaming import TURNS_SCHEMA

        return self.spark.read.schema(TURNS_SCHEMA).parquet(path)

    def timed(self, fn) -> float:
        """Run one engine operation of the measured loop under its job
        group; returns its wall time."""
        self.sc.setJobGroup(self.op_group, "op")
        self.attempted += 1
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        self.sc.setJobGroup(f"{self.run_id}/checks", "checks")
        return wall

    # -- set-up --------------------------------------------------------------
    def setup(self) -> float:
        """Session + engine warm-up: the full complement of Arrow workers and
        one small end-to-end run. For batch_mixed that is a 200-conversation
        DedupPipeline.run; for stream_incremental it is the base ingest into
        a fresh stream, which the measured micro-batches then build on.
        Returns its wall time."""
        from transcript_dedup.config import DedupConfig
        from transcript_dedup.generate import corpus_to_spark, generate_corpus
        from transcript_dedup.pipeline import DedupPipeline
        from transcript_dedup.session import get_spark, prewarm_python_workers
        from transcript_dedup.streaming import StreamingDedup

        tiny = generate_corpus(200, seed=7)[0]
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
                # keep every job and stage of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        prewarm_python_workers(self.spark, self.cores)
        log(f"session and workers up after {time.perf_counter() - t0:.2f} s")
        if self.args.workload == "stream_incremental":
            self.stream = StreamingDedup(
                self.spark, self.out_dir("stream"), DedupConfig(), compact_every=0
            )
            base = os.path.join(self.inputs["dir"], self.inputs["batches"][0]["turns"])
            t1 = time.perf_counter()
            self.stream.process_batch(self.turns_at(base), 0)
            self.bootstrap_s = time.perf_counter() - t1
        else:
            DedupPipeline(self.spark, self.out_dir("warm"), DedupConfig()).run(
                corpus_to_spark(self.spark, tiny)
            )
        return time.perf_counter() - t0

    # -- checks ----------------------------------------------------------------
    def check_outputs(self, tag: str, components, decisions, turn_dirs: list[str]) -> dict:
        """Checks of one finished run: closure pairs against the pinned
        all-pairs oracle (recall >= 0.99 and nothing outside it), planted
        truth recall (>= 0.90) and false merges (no more than the oracle's),
        and no keep/delete conflict. Returns the planted-truth recall, the
        false merges and the decisions digest."""
        import pandas as pd
        from transcript_dedup.decide import find_conflicts

        import workloads

        found = workloads.component_pairs(
            components.select("conv_id", "component_id").toPandas()
        )
        key = hashlib.sha256("|".join(turn_dirs).encode()).hexdigest()[:16]
        oracle = workloads.oracle_pairs(
            turn_dirs, os.path.join(self.inputs["dir"], f"oracle-{key}.json")
        )
        o_recall = len(found & oracle) / len(oracle) if oracle else 1.0
        self.check(f"{tag}.oracle_recall", o_recall >= ORACLE_RECALL_MIN, f"{o_recall:.4f}")
        spurious = len(found - oracle)
        self.check(f"{tag}.oracle_spurious", spurious == 0, f"{spurious} pairs")
        ids = pd.concat([pd.read_parquet(d, columns=["conv_id"]) for d in turn_dirs])
        want = workloads.truth_pairs(self.truth, set(ids["conv_id"]))
        recall = len(found & want) / len(want) if want else 1.0
        false_merges = len(found - want)
        oracle_merges = len(oracle - want)
        self.check(f"{tag}.planted_recall", recall >= PLANTED_RECALL_MIN, f"{recall:.4f}")
        self.check(
            f"{tag}.false_merges",
            false_merges <= oracle_merges,
            f"{false_merges} against the oracle's {oracle_merges}",
        )
        dec = decisions.drop("_seq") if "_seq" in decisions.columns else decisions
        n_conflicts = find_conflicts(dec).count()
        self.check(f"{tag}.conflicts", n_conflicts == 0, f"{n_conflicts} keep∩delete")
        rows = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in dec.collect()
        )
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        log(f"{tag}: oracle_recall={o_recall:.4f} spurious={spurious} "
            f"planted_recall={recall:.4f} "
            f"(gate {PLANTED_RECALL_GATE}: {'met' if recall >= PLANTED_RECALL_GATE else 'NOT met'}) "
            f"false_merges={false_merges} (oracle {oracle_merges}; "
            f"gate 0: {'met' if false_merges == 0 else 'NOT met'}) "
            f"decisions={len(rows)} digest={digest[:12]}")
        return {"recall": recall, "false_merges": false_merges, "digest": digest}

    def check_digest(self, tag: str, digest: str, key: str) -> None:
        """Decisions must be identical across runs of one seed: the first
        run stores the digest beside the cached inputs, later runs compare."""
        path = os.path.join(self.inputs["dir"], f"digest-{key}.txt")
        if not os.path.exists(path):
            fd, tmp = tempfile.mkstemp(dir=self.inputs["dir"])
            with os.fdopen(fd, "w") as f:
                f.write(digest)
            os.replace(tmp, path)
        with open(path) as f:
            stored = f.read()
        self.check(f"{tag}.digest", stored == digest, f"{digest[:12]} != stored {stored[:12]}")

    # -- workloads (untraced, measured) ------------------------------------
    def batch_mixed(self) -> dict:
        """DedupPipeline.run into a fresh output dir, repeated until the
        window is spent."""
        from transcript_dedup.config import DedupConfig
        from transcript_dedup.pipeline import DedupPipeline

        from workloads import du

        turn_dirs = [os.path.join(self.inputs["dir"], "turns")]
        turns = self.turns_at(turn_dirs[0])
        walls: list[float] = []
        while sum(walls) < self.args.seconds:
            out = self.out_dir("batch")
            pipe = DedupPipeline(self.spark, out, DedupConfig())
            res: dict = {}
            walls.append(self.timed(lambda: res.update(pipe.run(turns))))
            self.peak_mb = self.sampler.peak_mb()
            checked = self.check_outputs("batch", res["components"], res["decisions"], turn_dirs)
            self.check_digest("batch", checked["digest"], "batch")
        return {
            "walls": walls,
            "stored_bytes_per_input_byte": du(out) / self.inputs["input_bytes"],
            "checked": checked,
            "turn_dirs": turn_dirs,
        }

    def stream_incremental(self) -> dict:
        """Micro-batches (new conversations plus re-delivered conv_ids) on
        the stream set-up ingested, until the window is spent; the last
        generated micro-batch is kept for the traced pass."""
        from workloads import du

        batches = [os.path.join(self.inputs["dir"], b["turns"]) for b in self.inputs["batches"]]
        sd = self.stream
        walls: list[float] = []
        n = 1  # batches ingested
        while sum(walls) < self.args.seconds and n < len(batches) - 1:
            batch = self.turns_at(batches[n])
            walls.append(self.timed(lambda: sd.process_batch(batch, n)))
            n += 1
        self.peak_mb = self.sampler.peak_mb()
        checked = self.check_outputs(
            "stream", sd.stored_components(), sd.stored_decisions(), batches[:n]
        )
        self.check_digest("stream", checked["digest"], f"stream-{n}")
        in_bytes = sum(b["input_bytes"] for b in self.inputs["batches"][:n])
        return {
            "walls": walls,
            "stored_bytes_per_input_byte": du(sd.io.base_dir) / in_bytes,
            "checked": checked,
            "turn_dirs": batches[: n + 1],
        }

    # -- traced pass -------------------------------------------------------
    def traced(self, untraced: dict) -> dict:
        """One more pass through the real entry point, layer by layer: one
        span and one job group per layer call, each layer's output
        materialized at its boundary. batch_mixed re-runs
        DedupPipeline.run; stream_incremental continues the measured stream
        with one micro-batch and a compaction. The batch pass must decide as
        the untraced run did; the traced stream state is compared across the
        traced runs of the seed."""
        from transcript_dedup import pipeline as pipeline_mod
        from transcript_dedup import streaming as streaming_mod
        from transcript_dedup.config import DedupConfig
        from transcript_dedup.pipeline import DedupPipeline

        import layers
        from perftrace import SpanRecorder, executor_totals

        rec = SpanRecorder(self.sc, self.run_id, f"{self.run_id}/traced")
        stream = self.args.workload == "stream_incremental"
        turn_dirs = untraced["turn_dirs"]
        self.attempted += 1
        if not stream:
            stats = layers.Stats(layers.PIPELINE_CANDIDATES)
            pipe = DedupPipeline(self.spark, self.out_dir("traced"), DedupConfig())
            turns = self.turns_at(turn_dirs[0])
            with layers.traced_layers(pipeline_mod, layers.PIPELINE_LAYERS, pipe.io, rec, stats):
                with rec.span("traced"):
                    res = pipe.run(turns)
            components, decisions = res["components"], res["decisions"]
        else:
            stats = layers.Stats(layers.STREAM_CANDIDATES)
            sd = self.stream
            n = len(turn_dirs) - 1
            batch = self.turns_at(turn_dirs[n])
            with layers.traced_layers(streaming_mod, layers.STREAM_LAYERS, sd.io, rec, stats):
                with rec.span("traced"):
                    with rec.span("streaming"):
                        sd.process_batch(batch, n)
                    with rec.span("streaming.compact"):
                        sd.compact()
            stats.add_rows("streaming", sd.io.current_snapshot("conversations")["rows"])
            components, decisions = sd.stored_components(), sd.stored_decisions()
        self.sc.setJobGroup(f"{self.run_id}/checks", "checks")
        checked = self.check_outputs("traced", components, decisions, turn_dirs)
        self.check_digest(
            "traced", checked["digest"], f"stream-traced-{len(turn_dirs)}" if stream else "batch"
        )
        rec.dump(os.path.join(WORK, "spans", f"{self.run_id}.json"))

        times = rec.layer_times()
        execs = executor_totals(self.sc, {rec.group(n) for n in LAYERS} | {self.op_group})
        m: dict[str, float] = {}
        for name in LAYERS:
            t = times.get(name, {"wall_s": 0.0, "self_s": 0.0})
            e = execs[rec.group(name)]
            m[f"{name}.wall_s"] = t["wall_s"]
            m[f"{name}.self_s"] = t["self_s"]
            m[f"{name}.cpu_s"] = e["cpu_s"]
            m[f"{name}.busy_share"] = (
                e["run_s"] / (t["self_s"] * self.cores) if t["self_s"] > 0 else 0.0
            )
            m[f"{name}.shuffle_bytes"] = e["shuffle_bytes"]
            m[f"{name}.jobs"] = e["jobs"]
            m[f"{name}.tasks"] = e["tasks"]
            m[f"{name}.rows_out"] = stats.rows.get(name, 0)
            m[f"{name}.failed_tasks"] = e["failed_tasks"]
        m.update(stats.counters())
        compact_s = times.get("streaming.compact", {"wall_s": 0.0})["wall_s"]
        m["streaming.compact_s"] = compact_s
        # the untraced loop's operations, read from the status store after
        # they ran
        walls = untraced["walls"]
        op = execs[self.op_group]
        m["pipeline.jobs"] = op["jobs"] / len(walls)
        m["pipeline.busy_share"] = op["run_s"] / (sum(walls) * self.cores)
        traced_s = times["traced"]["wall_s"] - compact_s
        m["trace.overhead_s"] = traced_s - statistics.median(walls)
        m["streaming.jobs_per_batch"] = m["pipeline.jobs"] if stream else 0
        m["streaming.bootstrap_s"] = getattr(self, "bootstrap_s", 0.0)
        m["trace.unattributed_s"] = rec.unattributed_s("traced")
        m["checks.false_merge_pairs"] = untraced["checked"]["false_merges"]
        m["process.peak_rss_mb"] = self.peak_mb
        return m

    # -- main ----------------------------------------------------------------
    def execute(self) -> dict:
        import pandas as pd

        import workloads
        from perftrace import RssSampler

        self.inputs = getattr(workloads, self.args.workload)(
            os.path.join(WORK, "cache"), self.args.seed
        )
        self.truth = pd.read_parquet(os.path.join(self.inputs["dir"], "truth.parquet"))
        self.sampler = RssSampler().start()
        try:
            log(f"{self.run_id}: setting up")
            setup_s = self.setup()
            log(f"setup {setup_s:.2f} s")
            self.sampler.reset()
            result = getattr(self, self.args.workload)()
        finally:
            self.sampler.stop()
        log("measured: " + ", ".join(f"{w:.2f} s" for w in result["walls"]))
        if self.args.trace:
            return self.traced(result)
        return {
            "setup_s": setup_s,
            "wall_s": statistics.median(result["walls"]),
            "stored_bytes_per_input_byte": result["stored_bytes_per_input_byte"],
            "pair_recall": result["checked"]["recall"],
        }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark_tree() -> None:
    """Stop the session and its JVM, then wait for every process the run
    started (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from perftrace import descendants

    pids = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=5)
    deadline = time.monotonic() + 15
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError as e:
        log(f"cannot read BENCHMARK.json: {e}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import transcript_dedup  # noqa: F401
    except ImportError as e:
        log(f"transcript_dedup is not importable from {ROOT}: {e}")
        return 2

    # every file the run, Spark and the engine write stays in the checkout
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # scratch dir, no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp"
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    tempfile.tempdir = None

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run = Run(args, scratch)
    try:
        metrics = run.execute()
    finally:
        signal.alarm(0)
        _stop_spark_tree()
        shutil.rmtree(scratch, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
