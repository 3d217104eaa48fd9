"""Adapter: generic (id, text) document tables -> the engine's record shape.

The dedup engine operates on "conversation records" (reconstruct.py). Any
corpus of single-text documents (e.g. the driver's ``documents`` table, or a
web-crawl text column at 100 TB) is the degenerate one-turn case; this
adapter produces the same record schema so every detector, the clustering
stage, and decisions work unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .normalize import normalize_text
from .signatures import add_signatures


def docs_as_records(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents(id, text, ...) -> record schema used by the detectors.

    The id is zero-padded so lexicographic conv_id order == numeric doc id
    order (keeps pair orientation consistent with numeric SQL oracles).
    """
    return docs.select(
        F.lpad(F.col(id_col).cast("string"), 12, "0").alias("conv_id"),
        F.lit(1).alias("turn_count"),
        F.length(text_col).cast("long").alias("total_chars"),
        F.lit(None).cast("timestamp").alias("first_ts"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.sort_array(F.array()).cast("array<string>").alias("tool_set"),
        (F.length(F.trim(text_col)) > 0).cast("double").alias("completeness"),
        F.col(text_col).alias("doc_text"),
        F.lit("doc").alias("role_seq"),
    ).withColumn("norm_text", normalize_text("doc_text")).withColumn(
        "content_hash", F.xxhash64("norm_text")
    ).drop("doc_text")


def signed_records(docs: DataFrame, cfg: DedupConfig, id_col="doc_id", text_col="text") -> DataFrame:
    # scale-adaptive parallelism floor: a small single-file corpus arrives
    # as ONE scan partition, which serializes the signature kernel (and
    # every downstream conv consumer, e.g. the substring probe) onto one
    # core of the whole session. Round-robin up to the session's
    # parallelism only when the scan is narrower — a many-file production
    # corpus is already wide and skips the exchange. Row values/results are
    # unaffected (placement only).
    floor = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < floor:
        docs = docs.repartition(floor)
    return add_signatures(docs_as_records(docs, id_col, text_col), cfg)
