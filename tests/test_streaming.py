"""Structured Streaming incremental dedup: two micro-batch deliveries end in
the same exact/LSH cluster state as one batch run over the full corpus."""

from __future__ import annotations

import os

import pytest

from transcript_dedup.config import DedupConfig
from transcript_dedup.generate import corpus_to_spark, generate_corpus
from transcript_dedup.pipeline import detect_pairs, run_dedup_dataframes
from transcript_dedup.reconstruct import reconstruct_conversations
from transcript_dedup.signatures import add_signatures
from transcript_dedup.streaming import StreamingDedup


@pytest.fixture(scope="module")
def split_corpus(spark, tmp_path_factory):
    """Corpus written as two parquet 'arrival' files; duplicate partners are
    deliberately split across the two files so cross-batch joins matter."""
    turns_pdf, truth = generate_corpus(120, seed=42)
    convs = sorted(turns_pdf.conv_id.unique())
    first = set(convs[::2])  # interleave: pairs land in different batches
    d = tmp_path_factory.mktemp("stream_in")
    sdf = corpus_to_spark(spark, turns_pdf)
    sdf.filter(sdf.conv_id.isin(first)).coalesce(1).write.parquet(str(d / "b0"))
    sdf.filter(~sdf.conv_id.isin(first)).coalesce(1).write.parquet(str(d / "b1"))
    return d, turns_pdf, truth


def test_incremental_equals_batch(spark, cfg, split_corpus, tmp_path):
    d, turns_pdf, truth = split_corpus
    out = tmp_path / "stream_state"
    sd = StreamingDedup(spark, str(out), cfg)

    # two explicit micro-batches (deterministic order; the foreachBatch path
    # is exactly what StreamingDedup.start wires up)
    b0 = spark.read.parquet(str(d / "b0"))
    b1 = spark.read.parquet(str(d / "b1"))
    sd.process_batch(b0, 0)
    sd.process_batch(b1, 1)

    got = {
        r["conv_id"]: r["component_id"]
        for r in sd.io.read(spark, "components").collect()
    }

    # batch reference: same corpus, ALL THREE detector arms (the substring
    # arm runs incrementally since round 3)
    conv = add_signatures(
        reconstruct_conversations(corpus_to_spark(spark, turns_pdf)), cfg
    )
    from transcript_dedup.cluster import connected_components

    pairs = detect_pairs(conv, cfg)
    want = {
        r["conv_id"]: r["component_id"]
        for r in connected_components(pairs.filter("is_match"), cfg).collect()
    }
    assert got == want


def test_per_batch_writes_are_batch_sized(spark, cfg, split_corpus, tmp_path):
    """North-rule incrementality: each micro-batch WRITES O(batch) rows —
    conversation deltas equal the batch's conversation count, never the
    corpus (the round-1 design rewrote the full corpus per batch)."""
    d, turns_pdf, _ = split_corpus
    out = tmp_path / "state"
    sd = StreamingDedup(spark, str(out), cfg, compact_every=0)
    b0 = spark.read.parquet(str(d / "b0"))
    b1 = spark.read.parquet(str(d / "b1"))
    n0 = b0.select("conv_id").distinct().count()
    n1 = b1.select("conv_id").distinct().count()
    sd.process_batch(b0, 0)
    sd.process_batch(b1, 1)

    man = sd.io._load()["tables"]
    conv_snaps = man["conversations"]["snapshots"]
    assert [s["mode"] for s in conv_snaps] == ["append", "append"]
    assert [s["delta_rows"] for s in conv_snaps] == [n0, n1]
    # total readable rows = whole corpus exactly once
    assert sd.stored_conversations().count() == n0 + n1
    # pair/decision deltas exist per batch and are append-mode (O(batch))
    for t in ("candidate_pairs", "decisions", "components"):
        assert all(s["mode"] == "append" for s in man[t]["snapshots"])


def test_redelivery_and_compaction(spark, cfg, split_corpus, tmp_path):
    """Re-delivered conversations (changed content) are last-write-wins via
    equality-delete tombstones; affected components are re-solved (splits
    included); compaction folds the append chain and preserves the state."""
    import pandas as pd

    from transcript_dedup.cluster import connected_components

    _, turns_pdf, _ = split_corpus
    # batch 0: full corpus; batch 1: re-deliver 10 conversations with edited
    # text (breaks some duplicate relationships -> component splits)
    convs = sorted(turns_pdf.conv_id.unique())
    redeliver = set(convs[3:40:4])
    edited = turns_pdf[turns_pdf.conv_id.isin(redeliver)].copy()
    edited["text"] = "EDITED DIVERGENT CONTENT " + edited["conv_id"] + " " + edited["turn_idx"].astype(str)
    final_pdf = pd.concat(
        [turns_pdf[~turns_pdf.conv_id.isin(redeliver)], edited], ignore_index=True
    )

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=2)
    sd.process_batch(corpus_to_spark(spark, turns_pdf), 0)
    sd.process_batch(corpus_to_spark(spark, edited), 1)  # triggers compaction

    # compaction folded each table to a single data path + empty tombstones
    man = sd.io._load()["tables"]
    assert len(sd.io.current_snapshot("conversations")["paths"]) == 1
    assert sd.io.current_snapshot("conv_deletes")["rows"] == 0

    got = {
        r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()
    }
    conv = add_signatures(
        reconstruct_conversations(corpus_to_spark(spark, final_pdf)), cfg
    )
    pairs = detect_pairs(conv, cfg)
    want = {
        r["conv_id"]: r["component_id"]
        for r in connected_components(pairs.filter("is_match"), cfg).collect()
    }
    assert got == want
    # decisions state matches the batch pipeline's decision KEY set
    from transcript_dedup.decide import find_conflicts, make_decisions

    want_dec = {
        (r["group_id"], ",".join(r["keep"]), ",".join(r["delete"]), r["rule_applied"])
        for r in make_decisions(
            connected_components(pairs.filter("is_match"), cfg), conv, pairs, cfg
        ).collect()
    }
    got_dec = {
        (r["group_id"], ",".join(r["keep"]), ",".join(r["delete"]), r["rule_applied"])
        for r in sd.stored_decisions().collect()
    }
    assert got_dec == want_dec
    assert find_conflicts(sd.stored_decisions()).count() == 0


def _turns_pdf(rows):
    """(conv_id, text) rows -> one single-turn conversation each."""
    import datetime as dt

    import pandas as pd

    ts = dt.datetime(2026, 1, 1)
    return pd.DataFrame(
        [(c, 0, "user", t, "", ts) for c, t in rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    ).astype({"turn_idx": "int32"})


def test_containment_pair_split_across_batches(spark, cfg, tmp_path):
    """VERDICT r2 #4: the substring arm is incremental — a containment pair
    whose inner and outer docs arrive in DIFFERENT micro-batches is found,
    in both directions (inner-first and outer-first)."""
    inner1 = "the quick brown fox jumps over the lazy dog near the riverbank today"
    outer1 = "padding before the interesting part " + inner1 + " and plenty of trailing context afterwards"
    inner2 = "completely different marker sentence about spark shuffles and arrow batches"
    outer2 = "intro text " + inner2 + " closing remarks that make this conversation longer"

    # batch 0: inner1 + outer2 (+ filler); batch 1: outer1 + inner2
    b0 = _turns_pdf(
        [("in1", inner1), ("out2", outer2)]
        + [(f"f{i}", f"unrelated filler text number {i} with words") for i in range(4)]
    )
    b1 = _turns_pdf([("out1", outer1), ("in2", inner2)])

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg)
    sd.process_batch(corpus_to_spark(spark, b0), 0)
    sd.process_batch(corpus_to_spark(spark, b1), 1)

    pairs = {
        (r["conv_a"], r["conv_b"])
        for r in sd.stored_pairs().filter("is_match").collect()
    }
    assert ("in1", "out1") in pairs, pairs  # outer arrived after inner
    assert ("in2", "out2") in pairs, pairs  # inner arrived after outer
    comps = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    assert comps["in1"] == comps["out1"]
    assert comps["in2"] == comps["out2"]


# single-turn conversations: two exact-duplicate families and unrelated
# singletons
_DUP_A = "a vendor invoice was reconciled against the purchase order ledger on friday"
_DUP_B = "the hiking trail above the glacier lake closes after the first autumn snowfall"
_SINGLES = [
    "quantum error correction needs many physical qubits per logical qubit",
    "sourdough bread rises slowly when the kitchen stays cold overnight",
    "parliament debated the fisheries quota amendment until past midnight",
    "my bicycle chain squeaks because nobody oiled it since spring",
]


def _decision_rows(df):
    cols = [c for c in df.columns if c != "_seq"]
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(*sorted(cols)).collect()
    )


def _delta_rows(sd, table):
    return [s["delta_rows"] for s in sd.io._load()["tables"][table]["snapshots"]]


def test_failed_batch_releases_caches(spark, cfg, tmp_path, monkeypatch):
    """A stage that fails mid-batch releases every frame the batch
    persisted: no CacheManager entry and no persistent RDD it created
    survives (local-checkpoint blocks are left to the context cleaner)."""
    from pyspark import StorageLevel

    from transcript_dedup import streaming

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=0)
    base = [("a1", _DUP_A), ("a2", _DUP_A)] + [
        (f"s{i}", t) for i, t in enumerate(_SINGLES)
    ]
    sd.process_batch(corpus_to_spark(spark, _turns_pdf(base)), 0)

    sc = spark.sparkContext

    def cached_rdds():
        m = sc._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet() if not m[k].rdd().isLocallyCheckpointed()}

    persisted = []
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    real_persist = frame_cls.persist

    def recording_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    def boom(*a, **kw):
        raise RuntimeError("injected decide failure")

    before = cached_rdds()
    monkeypatch.setattr(frame_cls, "persist", recording_persist)
    monkeypatch.setattr(streaming, "make_decisions", boom)
    # re-delivered a2 + new duplicates: new, redelivered, all_ and the
    # re-solved components are all persisted before decide runs
    batch = [("a2", _DUP_A), ("b1", _DUP_B), ("b2", _DUP_B)]
    with pytest.raises(RuntimeError, match="injected decide failure"):
        sd.process_batch(corpus_to_spark(spark, _turns_pdf(batch)), 1)
    monkeypatch.undo()

    assert len(persisted) >= 4
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert cached_rdds() <= before


def test_four_batches_with_compaction_equal_batch(spark, cfg, split_corpus, tmp_path):
    """Four micro-batches with compaction every second batch: duplicate
    families split across batches, re-delivered ids (unchanged and edited)
    in every batch after the first. The committed decisions equal one
    DedupPipeline.run over the last-write-wins union, so no frame one batch
    checkpointed is read by the next batch or after a compaction."""
    import pandas as pd

    from transcript_dedup.pipeline import DedupPipeline

    _, turns_pdf, truth = split_corpus
    convs = sorted(turns_pdf.conv_id.unique())
    parts = [convs[k::4] for k in range(4)]
    batch_of = {c: k for k, p in enumerate(parts) for c in p}
    split_families = truth.assign(b=truth.conv_id.map(batch_of)).groupby(
        "truth_cluster_id"
    )["b"].nunique()
    assert (split_families > 1).any()

    deliveries = [turns_pdf[turns_pdf.conv_id.isin(parts[0])]]
    final = {c: turns_pdf[turns_pdf.conv_id == c] for c in convs}
    for k in (1, 2, 3):
        same, edit = parts[k - 1][k], parts[k - 1][k + 4]
        edited = turns_pdf[turns_pdf.conv_id == edit].copy()
        edited["text"] = f"EDITED IN BATCH {k} " + edited["conv_id"] + " " + edited["turn_idx"].astype(str)
        final[edit] = edited
        deliveries.append(
            pd.concat(
                [
                    turns_pdf[turns_pdf.conv_id.isin(parts[k])],
                    turns_pdf[turns_pdf.conv_id == same],
                    edited,
                ],
                ignore_index=True,
            )
        )

    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=2)
    for k, pdf in enumerate(deliveries):
        sd.process_batch(corpus_to_spark(spark, pdf), k)
    # two ids re-delivered per batch; compaction after batches 1 and 3
    assert _delta_rows(sd, "conv_deletes") == [2, 0, 2, 2, 0]

    union = pd.concat(final.values(), ignore_index=True)
    want = DedupPipeline(spark, str(tmp_path / "batch"), cfg).run(
        corpus_to_spark(spark, union), input_fingerprint="union"
    )["decisions"]
    got = sd.stored_decisions()
    assert _decision_rows(got) == _decision_rows(want)


def test_redelivery_only_batch_without_new_edges(spark, cfg, tmp_path):
    """A micro-batch of re-delivered conversations only, with no new
    matched edge: a singleton comes back unchanged and a duplicate's member
    comes back edited, which dissolves its component. The empty
    checkpointed frames commit tombstones and nothing else."""
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=0)
    base = [("a1", _DUP_A), ("a2", _DUP_A), ("b1", _DUP_B), ("b2", _DUP_B)] + [
        (f"s{i}", t) for i, t in enumerate(_SINGLES)
    ]
    sd.process_batch(corpus_to_spark(spark, _turns_pdf(base)), 0)
    comps = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    assert comps == {"a1": "a1", "a2": "a1", "b1": "b1", "b2": "b1"}

    redelivery = [("s0", _SINGLES[0]), ("a2", "an edited reply about something else entirely")]
    sd.process_batch(corpus_to_spark(spark, _turns_pdf(redelivery)), 1)

    assert _delta_rows(sd, "conversations") == [8, 2]
    assert sorted(r["conv_id"] for r in sd.io.read(spark, "conv_deletes").collect()) == [
        "a2",
        "s0",
    ]
    delta = sd.io.read(spark, "candidate_pairs").filter("_seq = 1")
    assert delta.filter("is_match").count() == 0
    # the dissolved component's members and the touched ids are tombstoned
    assert sorted(
        r["conv_id"]
        for r in sd.io.read(spark, "component_deletes").filter("_seq = 1").collect()
    ) == ["a1", "a2", "s0"]
    assert _delta_rows(sd, "components") == [4, 0]
    dead = sd.io.read(spark, "decision_deletes").filter("_seq = 1").collect()
    assert [r["group_id"] for r in dead] == ["a1"]
    assert _delta_rows(sd, "decisions") == [2, 0]

    comps = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    assert comps == {"b1": "b1", "b2": "b1"}
    assert [r["group_id"] for r in sd.stored_decisions().collect()] == ["b1"]
    assert sd.stored_conversations().count() == 8
    assert sd.stored_pairs().filter("is_match").count() == 1


def test_first_batch_without_matches(spark, cfg, tmp_path):
    """A first micro-batch with no match at all commits its conversations
    and empty pair, component and decision deltas; the next batch's match
    against it is found."""
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg, compact_every=0)
    first = [(f"s{i}", t) for i, t in enumerate(_SINGLES)]
    sd.process_batch(corpus_to_spark(spark, _turns_pdf(first)), 0)

    assert _delta_rows(sd, "conversations") == [4]
    assert sd.stored_pairs().filter("is_match").count() == 0
    for table in ("components", "component_deletes", "decisions", "decision_deletes"):
        assert _delta_rows(sd, table) == [0], table
    assert sd.io.current_snapshot("conv_deletes") is None

    sd.process_batch(corpus_to_spark(spark, _turns_pdf([("s1b", _SINGLES[1])])), 1)
    comps = {r["conv_id"]: r["component_id"] for r in sd.stored_components().collect()}
    assert comps == {"s1": "s1", "s1b": "s1"}
    dec = sd.stored_decisions().collect()
    assert [(r["group_id"], r["size"]) for r in dec] == [("s1", 2)]


def test_windowed_turn_counts_watermark(spark, tmp_path):
    """Native Structured Streaming path: tumbling-window rollup with a
    watermark — a row later than the watermark is DROPPED (bounded state),
    a closed window emits exactly once in append mode."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.streaming import TURNS_SCHEMA, windowed_turn_counts

    d = tmp_path / "in"
    os.makedirs(d)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / name))
        _time.sleep(0.3)  # distinct mod times -> deterministic batch order

    # batch 0: 3 rows in window 10:00-10:10 + 1 row at 12:00 that will push
    # the watermark (30 min delay) to 11:30 for batch 1
    write(
        "b0.parquet",
        [
            ("c1", 0, "u", "a", "", "2026-01-01 10:01:00"),
            ("c1", 1, "u", "b", "", "2026-01-01 10:02:00"),
            ("c2", 0, "u", "c", "", "2026-01-01 10:05:00"),
            ("c3", 0, "u", "d", "", "2026-01-01 12:00:00"),
        ],
    )
    # batch 1: advances the watermark to 12:30; the 10:00 window's state is
    # emitted + EVICTED here (append mode)
    write("b1.parquet", [("c5", 0, "u", "e", "", "2026-01-01 13:00:00")])
    # batch 2: a row for the long-closed 10:00 window — beyond the
    # watermark, state already evicted -> dropped by the engine (the
    # bounded-state late-data contract)
    write("b2.parquet", [("c4", 0, "u", "late", "", "2026-01-01 10:03:00")])

    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        windowed_turn_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        str(r["window_start"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # 10:00 window emitted once with the 3 on-time rows; 12:00 window with
    # 1; the 13:00 window never closed -> absent; the late row created no
    # duplicate 10:00 output row
    assert got == {"2026-01-01 10:00:00": 3, "2026-01-01 12:00:00": 1}, got
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, [p.get("stateOperators") for p in q.recentProgress]


def test_stream_api_runs(spark, cfg, split_corpus, tmp_path):
    """Drive the actual readStream/writeStream path with availableNow."""
    d, _, _ = split_corpus
    flat = tmp_path / "flat_in"
    os.makedirs(flat)
    # flatten both batch dirs into one input dir of parquet files
    import shutil

    for sub in ("b0", "b1"):
        for f in os.listdir(d / sub):
            if f.endswith(".parquet"):
                shutil.copy(d / sub / f, flat / f"{sub}_{f}")
    sd = StreamingDedup(spark, str(tmp_path / "state"), cfg)
    q = sd.start(str(flat), str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    dec = sd.io.read(spark, "decisions")
    assert dec.count() > 0
    from transcript_dedup.decide import find_conflicts

    assert find_conflicts(dec).count() == 0
