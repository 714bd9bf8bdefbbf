"""Structured Streaming tests: T2/T5 (watermarked windows), T6 (streaming
dedup), T7 (custom per-key state) — the streaming-only semantics that SQL
oracles cannot express (SURVEY §5.2 item 4, §7 risk 6).

Driven with JSON file sources: each "micro-batch" is a file dropped into
the source directory while ONE continuous query runs (memory sinks cannot
recover a checkpoint, so cross-restart recovery is covered separately by
tests/test_ingest.py::test_ingest_stream_exactly_once with a parquet sink).
``processAllAvailable`` barriers between drops make watermark movement,
dedup state, and per-key accumulators deterministic.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_bom_radiation_spark import streaming as S


def _write_batch(src_dir: str, name: str, events: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def _ev(eid: int, ts: str, uid: int = 1, etype: str = "click", value: float = 1.0) -> dict:
    return {"event_id": eid, "ts": ts, "user_id": uid, "event_type": etype, "value": value}


def _start(df, ckpt: str, name: str, mode: str = "append"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_windowed_counts_watermark_late_drop(spark, tmp_path):
    """T2+T5: append-mode windows emit once the watermark passes; a late
    event behind the watermark is dropped and the emitted window is final."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    stream = S.windowed_counts(S.read_event_stream(spark, src), "15 minutes", "30 minutes")
    q = _start(stream, ckpt, "win")
    try:
        # batch 1: two events in the 10:00 window; watermark still at 0
        _write_batch(src, "b1.json", [_ev(1, "2024-01-01 10:01:00"), _ev(2, "2024-01-01 10:07:00")])
        q.processAllAvailable()
        # batch 2: event at 12:00 pushes the watermark to 11:30 -> the
        # 10:00-10:15 window is finalized and emitted
        _write_batch(src, "b2.json", [_ev(3, "2024-01-01 12:00:00")])
        q.processAllAvailable()
        emitted = {r["win_start"]: r["n"] for r in spark.sql("SELECT * FROM win").collect()}
        assert emitted.get("2024-01-01 10:00") == 2

        # batch 3: a LATE event for the finalized window + a fresh one; the
        # late event is dropped — the 10:00 window must not re-emit/correct
        _write_batch(src, "b3.json", [_ev(4, "2024-01-01 10:09:00"), _ev(5, "2024-01-01 13:00:00")])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM win WHERE win_start = '2024-01-01 10:00'").collect()
        assert len(rows) == 1 and rows[0]["n"] == 2
    finally:
        q.stop()


def test_streaming_dedup(spark, tmp_path):
    """T6: the same event_id delivered in two different micro-batches is
    emitted exactly once (at-least-once source -> exactly-once output)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    q = _start(S.dedup_stream(S.read_event_stream(spark, src)), ckpt, "dedup")
    try:
        _write_batch(src, "b1.json", [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 10:01:00")])
        q.processAllAvailable()
        # redelivery of event 2 + new event 3 in a later micro-batch
        _write_batch(src, "b2.json", [_ev(2, "2024-01-01 10:01:00"), _ev(3, "2024-01-01 10:02:00")])
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup").collect()
        assert sorted(r["event_id"] for r in rows) == [1, 2, 3]  # 2 only once
    finally:
        q.stop()


def test_streaming_dedup_state_eviction(spark, tmp_path):
    """T6 state bound (regression for the probe-caught leak): dedup keys
    older than the watermark horizon are EVICTED from the state store —
    plain ``dropDuplicates`` on a non-event-time key retains every key
    forever, which the scaling probe measured as exactly-linear state
    growth; ``dropDuplicatesWithinWatermark`` is the fix under test."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    q = _start(
        S.dedup_stream(S.read_event_stream(spark, src), watermark="10 minutes"),
        ckpt,
        "dedup_evict",
    )
    try:
        _write_batch(src, "b1.json", [_ev(i, f"2024-01-01 10:0{i}:00") for i in range(1, 4)])
        q.processAllAvailable()
        # event at 12:00 moves the watermark to 11:50 — keys 1-3 (10:0x)
        # fall behind the horizon and must leave the store; one more batch
        # lets the store commit the eviction.
        _write_batch(src, "b2.json", [_ev(10, "2024-01-01 12:00:00")])
        q.processAllAvailable()
        _write_batch(src, "b3.json", [_ev(11, "2024-01-01 12:01:00")])
        q.processAllAvailable()
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert state_rows[0] == 3  # all three keys held while in horizon
        assert state_rows[-1] <= 2  # 1-3 evicted; only 12:0x keys remain
    finally:
        q.stop()


def test_stateful_per_key(spark, tmp_path):
    """T7: applyInPandasWithState — per-user running totals accumulate
    across micro-batches through the state store; only touched keys
    re-emit, carrying their accumulated state."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    q = _start(
        S.running_totals_stateful(S.read_event_stream(spark, src)), ckpt, "state", mode="update"
    )
    try:
        _write_batch(
            src,
            "b1.json",
            [
                _ev(1, "2024-01-01 10:00:00", uid=1, value=2.0),
                _ev(2, "2024-01-01 10:01:00", uid=1, value=3.0),
                _ev(3, "2024-01-01 10:02:00", uid=2, value=5.0),
            ],
        )
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM state").collect()
        }
        assert got == {1: (2, 5.0), 2: (1, 5.0)}

        _write_batch(src, "b2.json", [_ev(4, "2024-01-01 10:05:00", uid=1, value=4.0)])
        q.processAllAvailable()
        latest = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                # memory sink in update mode appends rows; take each key's last
                "SELECT user_id, n_events, total_value FROM state"
            ).collect()
        }
        assert latest[1] == (3, 9.0)  # 2+1 events, 5.0+4.0 carried state
        assert latest[2] == (1, 5.0)
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """T9: true stream-stream inner join — the SAME view_click_pairs plan
    the declared t09 query runs in batch, executed as a watermarked
    self-join of a live stream (bounded state: rows older than watermark +
    attribution window are evicted). The streamed pairs must equal the
    batch join over the same events."""
    from etl_bom_radiation_spark.queries.stream_joins import view_click_pairs

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    events = [
        _ev(1, "2024-01-01 10:00:00", uid=1, etype="view"),
        _ev(2, "2024-01-01 10:05:00", uid=1, etype="click"),  # pair (5 min)
        _ev(3, "2024-01-01 10:20:00", uid=1, etype="click"),  # outside window
        _ev(4, "2024-01-01 10:00:00", uid=2, etype="view"),   # no click
        _ev(5, "2024-01-01 10:02:00", uid=3, etype="click"),  # no view
        _ev(6, "2024-01-01 10:06:00", uid=1, etype="click"),  # second pair
    ]
    stream = S.read_event_stream(spark, src).withWatermark("ts", "30 minutes")
    q = _start(view_click_pairs(stream), ckpt, "ssj")
    try:
        _write_batch(src, "b1.json", events[:3])
        q.processAllAvailable()
        _write_batch(src, "b2.json", events[3:])
        q.processAllAvailable()
        # late rows can still be in state (append emits on watermark for
        # aggregations, but inner-join rows emit as soon as both sides
        # match) — push the watermark to flush nothing extra, then compare
        _write_batch(src, "b3.json", [_ev(7, "2024-01-01 12:00:00", uid=9, etype="view")])
        q.processAllAvailable()
        got = {
            (r["user_id"], str(r["view_ts"]), str(r["click_ts"]))
            for r in spark.sql("SELECT * FROM ssj").collect()
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(
        [(e["event_id"], e["ts"], e["user_id"], e["event_type"]) for e in events],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    expected = {
        (r["user_id"], str(r["view_ts"]), str(r["click_ts"]))
        for r in view_click_pairs(batch).collect()
    }
    assert got == expected
    assert {(u, v, c) for u, v, c in got} == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:05:00"),
        (1, "2024-01-01 10:00:00", "2024-01-01 10:06:00"),
    }


def test_stream_stream_join_state_eviction(spark, tmp_path):
    """T9 state bound: joined-side rows older than watermark + the 10-min
    attribution range leave the state store — the bound the scaling
    probe's --streaming mode measures (ratio 1.54 at 10x input); this
    locks it behaviorally at fixture scale."""
    from etl_bom_radiation_spark.queries.stream_joins import view_click_pairs

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    stream = S.read_event_stream(spark, src).withWatermark("ts", "10 minutes")
    q = _start(view_click_pairs(stream), ckpt, "ssj_evict")
    try:
        _write_batch(src, "b1.json", [
            _ev(1, "2024-01-01 10:00:00", uid=1, etype="view"),
            _ev(2, "2024-01-01 10:01:00", uid=2, etype="view"),
            _ev(3, "2024-01-01 10:02:00", uid=3, etype="click"),
        ])
        q.processAllAvailable()
        # 12:00 advances the watermark far past 10:0x + 10 min + range:
        # all three buffered rows must be evicted; a follow-up batch lets
        # the store commit the eviction.
        _write_batch(src, "b2.json", [_ev(4, "2024-01-01 12:00:00", uid=9, etype="view")])
        q.processAllAvailable()
        _write_batch(src, "b3.json", [_ev(5, "2024-01-01 12:01:00", uid=9, etype="click")])
        q.processAllAvailable()
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert state_rows[0] == 3  # both sides buffered while in horizon
        assert state_rows[-1] <= 2  # 10:0x rows evicted; only 12:0x remain
    finally:
        q.stop()


def test_backpressure_max_files(spark, tmp_path):
    """maxFilesPerTrigger: a 3-file backlog drains in 3 micro-batches of 1
    file — the ingest backpressure knob for 100 TB backfills (SURVEY §7 M5)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for i in range(3):
        _write_batch(src, f"b{i}.json", [_ev(i, f"2024-01-01 10:0{i}:00")])
    stream = S.read_event_stream(spark, src, max_files_per_trigger=1).select(
        "event_id", F.lit(1).alias("one")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("bp")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) AS n FROM bp").collect()[0]["n"] == 3
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3


def test_sessionize_transform_with_state(spark, tmp_path):
    """T7b: transformWithStateInPandas sessionization — runs only where the
    protobuf dependency for the state-server protocol exists; elsewhere the
    gate documents the degradation instead of a hard crash."""
    import pytest

    from etl_bom_radiation_spark.streaming import (
        sessionize_stateful,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf not available in this environment")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(
        str(src),
        "b0.json",
        [
            _ev(1, "2024-01-01 10:00:00", uid=1),
            _ev(2, "2024-01-01 10:10:00", uid=1),
            _ev(3, "2024-01-01 12:00:00", uid=1),  # > 30 min gap: new session
            _ev(4, "2024-01-01 09:00:00", uid=2),
        ],
    )
    from etl_bom_radiation_spark.streaming import read_event_stream

    out = sessionize_stateful(read_event_stream(spark, str(src)))
    q = (
        out.writeStream.format("memory")
        .queryName("t7b")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r for r in spark.sql("SELECT * FROM t7b").collect()}
    assert rows[1]["sessions"] == 2 and rows[1]["events"] == 3
    assert rows[2]["sessions"] == 1


def test_t10_streaming_incremental_merge_admits_exactly_new_content(spark):
    """The t10 declared query is rows-only for the driver; here the exact
    admitted digests are pinned: in-batch dup, cross-batch dup (dedup
    state across micro-batches), and already-in-corpus must all be
    rejected, leaving exactly the three novel texts."""
    import hashlib

    from etl_bom_radiation_spark.queries import load_all

    got = [r.h for r in load_all()["t10_stream_incremental_merge"].fn(spark, "").collect()]
    want = sorted(
        hashlib.md5(t.encode()).hexdigest()
        for t in ("epsilon zeta", "eta theta", "iota kappa")
    )
    assert got == want


def test_watermarked_admission_bounds_dedup_state(spark, tmp_path):
    """t10's scale path (VERDICT r4 #4): dropDuplicatesWithinWatermark
    bounds the dedup state by event time.  Three proofs in one run:

    * short-range dup suppressed — a digest re-arriving within the 10 s
      delay is dropped (in-batch and cross-batch);
    * state EVICTED after the watermark passes — the same digest arriving
      again once the watermark moved beyond its window is admitted a
      SECOND time, which the unbounded t10 variant can never do;
    * the state store shrinks — lastProgress shows the dedup operator
      dropped its expired rows instead of accumulating forever.
    """
    import uuid

    from etl_bom_radiation_spark.queries.stream_joins import watermarked_admission

    src = str(tmp_path / "src")
    os.makedirs(src)
    existing = spark.createDataFrame([("alpha beta",)], "text string").select(
        F.md5("text").alias("h"), F.lit(1).alias("in_corpus")
    )
    docs = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .json(src)
    )
    name = f"wadm_{uuid.uuid4().hex[:8]}"
    q = (
        watermarked_admission(docs, existing, delay="10 seconds")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_batch(src, "b1.json", [
            {"doc_id": 1, "text": "novel one", "ts": "2024-01-01T10:00:00"},
            {"doc_id": 2, "text": "novel one", "ts": "2024-01-01T10:00:05"},  # in-batch dup
            {"doc_id": 3, "text": "alpha beta", "ts": "2024-01-01T10:00:06"},  # in corpus
        ])
        q.processAllAvailable()
        _write_batch(src, "b2.json", [
            {"doc_id": 4, "text": "novel one", "ts": "2024-01-01T10:00:08"},  # cross-batch dup (state)
            {"doc_id": 5, "text": "novel two", "ts": "2024-01-01T10:01:00"},  # advances watermark to 10:00:50
        ])
        q.processAllAvailable()
        _write_batch(src, "b3.json", [
            # same digest as doc 1, but its state row (event 10:00:00,
            # expiring at watermark > 10:00:10) was evicted when the
            # watermark reached 10:00:50 — admitted AGAIN
            {"doc_id": 6, "text": "novel one", "ts": "2024-01-01T10:01:05"},
        ])
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    rows = spark.sql(f"SELECT h, ts FROM {name} ORDER BY ts").collect()
    spark.catalog.dropTempView(name)
    import hashlib

    h_one = hashlib.md5(b"novel one").hexdigest()
    h_two = hashlib.md5(b"novel two").hexdigest()
    assert [r.h for r in rows] == [h_one, h_two, h_one], rows
    # bounded state: after b3 the store holds only the rows whose window
    # the watermark has not passed — not one row per digest ever seen
    state = progress["stateOperators"][0]
    assert state["numRowsTotal"] <= 2, state


def test_watermarked_admission_survives_kill_and_restart(spark, tmp_path):
    """VERDICT r5 #8 (the DLQ-retry analog, lambda.cfn.yaml:37-45): the
    watermarked admission pipeline is killed after its first micro-batch
    and restarted from the checkpoint with new data already waiting.  The
    restarted query must RECOVER its dedup state and watermark — a
    cross-batch duplicate arriving while the query was down is still
    suppressed (impossible if state were lost), the file sink stays
    exactly-once across the restart, and post-restart the watermark keeps
    advancing so eviction-then-readmission still works."""
    import hashlib

    from etl_bom_radiation_spark.queries.stream_joins import watermarked_admission

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    existing = spark.createDataFrame([("alpha beta",)], "text string").select(
        F.md5("text").alias("h"), F.lit(1).alias("in_corpus")
    )

    def start():
        docs = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .json(src)
        )
        return (
            watermarked_admission(docs, existing, delay="10 seconds")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        _write_batch(src, "b1.json", [
            {"doc_id": 1, "text": "novel one", "ts": "2024-01-01T10:00:00"},
            {"doc_id": 2, "text": "alpha beta", "ts": "2024-01-01T10:00:01"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()  # the kill: query down, state only in the checkpoint

    # data lands while the query is down — replayed on restart
    _write_batch(src, "b2.json", [
        # same digest as doc 1, within the 10 s window: admissible ONLY if
        # the restarted query lost its recovered dedup state
        {"doc_id": 3, "text": "novel one", "ts": "2024-01-01T10:00:08"},
        {"doc_id": 4, "text": "novel two", "ts": "2024-01-01T10:01:00"},
    ])
    q = start()
    try:
        q.processAllAvailable()
        _write_batch(src, "b3.json", [
            # watermark (recovered, then advanced by b2 to 10:00:50) has
            # evicted doc 1's state row: readmitted — eviction still
            # functions after the restart
            {"doc_id": 5, "text": "novel one", "ts": "2024-01-01T10:01:05"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    h_one = hashlib.md5(b"novel one").hexdigest()
    h_two = hashlib.md5(b"novel two").hexdigest()
    rows = [r.h for r in spark.read.parquet(out).orderBy("ts").collect()]
    assert rows == [h_one, h_two, h_one], rows


def test_stream_lsh_admission_two_batch_drain(spark, sf_dir):
    """t11's behavioral contract (VERDICT r8 #5): the foreachBatch loop
    probes each micro-batch against the persisted LSH index and folds
    its keepers in BETWEEN batches — so batch 2's near-dup of a batch-1
    keep is dropped, which is impossible without the fold. All five
    decision paths pinned."""
    from etl_bom_radiation_spark.queries import load_all

    rows = load_all()["t11_stream_lsh_admission"].fn(spark, sf_dir).collect()
    got = {(r.batch, r.doc_id): r.decision for r in rows}
    assert got == {
        (0, 100): "keep",            # novel
        (0, 101): "drop_index_dup",  # near-dup of the seeded corpus
        (0, 102): "drop_shard_dup",  # in-batch near-dup of 100 (min-id survivor)
        (1, 200): "drop_index_dup",  # near-dup of 100 — NEEDS the b1 fold
        (1, 201): "keep",            # novel
    }


def test_stream_lsh_admission_exactly_once_across_restart(spark, tmp_path):
    """The epoch protocol under a REAL streaming restart — validates the
    redelivery contract the admit_batch-level replay tests (tests/
    test_scale.py) only assume: a foreachBatch sink that crashes
    mid-batch AFTER one sub-batch fold committed fails the query; the
    restarted query redelivers the micro-batch with the SAME epoch id
    and content (asserted), and the epoch-aware admit_batch turns that
    redelivery into an exactly-once admission — final index tables and
    verdicts bit-identical to an uncrashed control run."""
    import pytest

    import etl_bom_radiation_spark.lsh_index as L
    from tests.conftest import index_rows

    seed = [
        (1, "seed doc about broadcast joins and shuffle pruning"),
        (2, "seed doc about watermark state eviction rules"),
    ]
    batch = [
        {"doc_id": 10, "text": "novel arrival text about parquet footer statistics"},
        {"doc_id": 11, "text": "seed doc about broadcast joins and shuffle tuning"},
        {"doc_id": 12, "text": "novel arrival text about parquet footer statistic"},
        {"doc_id": 13, "text": "fresh topic on morton codes and zorder clustering"},
        {"doc_id": 14, "text": "fresh topic on morton codes and zorder clusters"},
        {"doc_id": 15, "text": "totally different content about session windows"},
    ]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    idx, ctrl = str(tmp_path / "idx"), str(tmp_path / "ctrl")
    seed_df = spark.createDataFrame(seed, "doc_id bigint, text string")
    for p in (idx, ctrl):
        L.build_lsh_index(spark, seed_df, p)

    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in batch], "doc_id bigint, text string"
    )
    want = sorted(
        (r.doc_id, r.decision)
        for r in L.admit_batch(spark, ctrl, batch_df, max_docs=2, epoch=0)
        .select("doc_id", "decision")
        .collect()
    )

    epochs, log = [], []
    real_fold = L._fold_frames
    armed = {"crash": True}

    def admit(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        epochs.append(int(epoch_id))
        if armed["crash"]:
            calls = []

            def fold_then_crash(*a, **k):
                calls.append(1)
                if len(calls) == 2:  # sub-batch 1 committed, 2 crashes
                    armed["crash"] = False
                    raise RuntimeError("simulated sink crash")
                return real_fold(*a, **k)

            L._fold_frames = fold_then_crash
        try:
            verdicts = L.admit_batch(
                spark, idx, batch_df.localCheckpoint(), max_docs=2, epoch=epoch_id
            )
            log.extend(
                (int(r.doc_id), r.decision)
                for r in verdicts.select("doc_id", "decision").collect()
            )
        finally:
            L._fold_frames = real_fold

    def start():
        return (
            spark.readStream.schema("doc_id long, text string")
            .json(src)
            .writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(src, "b1.json", batch)
    q = start()
    with pytest.raises(Exception, match="simulated sink crash"):
        q.processAllAvailable()  # sink crash fails the query mid-batch
    q.stop()

    # the partial commit is on disk: sub-batch 1's fold raised the mark
    # to 10 under epoch 0, sub-batch 2's keeper never committed
    meta = L._read_meta(spark, idx)
    assert (meta["max_doc_id"], meta["epoch"]) == (10, 0)

    q2 = start()  # restart from the same checkpoint
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    assert epochs == [0, 0]  # redelivered with the SAME epoch id
    assert sorted(log) == want  # verdicts reproduce (crashed run logged none)
    # exactly-once: no skip, no double-fold
    assert index_rows(spark, idx) == index_rows(spark, ctrl)
