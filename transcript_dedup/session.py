"""SparkSession factory.

One place for the scale-relevant session config so tests, bench, and the
driver entrypoint all run the same way:

- AQE on (plan re-opt, skew-join splitting, partition coalescing) — the free
  half of the skew story (SURVEY.md section 4.2); explicit band-key salting in
  detectors/lsh.py is the custom half.
- Arrow transfer on, with a bounded batch size so the signature kernels see
  coarse-but-bounded pandas batches.
- UTC session timezone (DuckDB oracle comparisons are UTC-naive).
- shuffle partitions ~ cores for local mode; a real cluster submit would set
  this to ~2-3x total cores via spark-submit conf instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Ship transcript_dedup to executor Python workers (the local-mode
    equivalent of ``spark-submit --py-files transcript_dedup.zip``).

    Without this, mapInPandas/applyInPandas kernels fail to unpickle on
    workers whenever the driver script runs from outside the repo root.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already imported from a zip (spark-submit --py-files
        # transcript_dedup.zip): the same archive reaches executor Python
        # paths through spark-submit itself — nothing to ship, and
        # re-archiving a zip member would fail
        return
    zip_base = os.path.join(tempfile.mkdtemp(prefix="tdship"), "transcript_dedup")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "transcript_dedup")
    spark.sparkContext.addPyFile(zip_path)


def _default_driver_mem() -> str:
    """32 GiB, capped at half of physical memory so the local-mode JVM
    leaves room for the Python workers on a small host."""
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(32 * 1024, half_mib)}m"


def get_spark(
    app_name: str = "transcript-dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> 32 default
        inner = master[master.find("[") + 1 : master.rfind("]")] if "[" in master else "*"
        shuffle_partitions = int(inner) if inner.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # partition coalescing OFF (round 4): shuffle partitions here are
        # explicitly sized (~2x cores), so coalescing's post-stage re-plan
        # wave buys nothing and its scheduling latency is pure overhead on
        # small/medium stages — pinned interleaved A/B at 120k convs read
        # T4 79.8/69.8 s (off) vs 80.4/75.2 s (on), T1 neutral (246.3 vs
        # 242.9); round-3 pairs-phase A/B agreed (42.3 vs 44.5-48 s). With
        # over-provisioned static partitions (e.g. the classic 2000-part
        # cluster default) turn it back on via extra_conf. AQE itself and
        # skew-join splitting stay ON — they are the free half of the
        # skew story (SURVEY 4.2).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep Arrow python workers alive between kernel stages (the
        # tiny-path probe kernel runs minutes after the signature kernel;
        # re-importing numpy/pandas per worker under CPU contention showed
        # up as ~20 s/task "initialize" time in node metrics)
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every executor thread — size it
        # like a worker box, but never above half of this host's memory
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local corpora arrive as one parquet file; without a smaller split
        # size the scan (and the shuffle write feeding reconstruction) runs
        # as a single task — on a real cluster inputs are many files, this
        # just restores that property locally
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop fully (needed between local[8] / local[32] bench phases)."""
    spark.stop()
    # clear the JVM-wide active/default session so a fresh master takes effect
    SparkSession.builder._options = {}


def prewarm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Force the full complement of Arrow python workers to spawn NOW.

    ``spark.python.worker.reuse`` keeps workers alive, but the pool only
    grows to the max python-task concurrency seen so far — a tiny warmup
    corpus schedules 1-2 mapInPandas tasks, so the first big kernel stage
    runs on (cores - warm) FRESH workers, each paying the full worker-side
    import chain: unpickling a kernel closure imports transcript_dedup +
    pyspark.sql + numpy/pandas (worker.py counts everything between task
    boot and the end of read_udfs as init_time; SQL node metrics read it
    as ~11-14 s/task "time to initialize Python workers" under host
    contention — paid ONLY at the multi-core level, since a 1-core run
    reuses its single fully-warmed worker). One single-partition task per
    worker, each importing the top of the engine's dependency tree then
    sleeping past the scheduling wave, forces every worker in the pool to
    fork + import here instead.
    """

    def _spin(batches):
        import time as _t

        import transcript_dedup.pipeline  # noqa: F401 — pulls detectors,
        # verify, signatures, cluster: the same chain read_udfs triggers
        # when it unpickles any kernel closure in this worker

        _t.sleep(1.0)
        for b in batches:
            yield b

    df = spark.range(n_workers).repartition(n_workers)
    df.mapInPandas(_spin, schema="id long").count()
