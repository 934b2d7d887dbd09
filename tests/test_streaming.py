"""Structured Streaming ingest: same kernel, incremental execution."""

import os

import pytest

from accelerated_intelligent_document_processing_on_aws_spark import streaming
from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
    generate_transcripts,
)


def _write_shards(spark, base, n_shards=3, convs_per_shard=10):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(base, exist_ok=True)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    total = 0
    for s in range(n_shards):
        rows = generate_transcripts(convs_per_shard, seed=100 + s)
        for r in rows:
            r["conv_id"] = f"s{s}-{r['conv_id']}"
        cols = {k: [r[k] for r in rows] for k in schema.names}
        pq.write_table(pa.Table.from_pydict(cols, schema=schema), f"{base}/shard{s}.parquet")
        total += len(rows)
    return total


class TestStreamingIngest:
    def test_stream_extracts_all_rows_exactly_once(self, spark, tmp_path):
        shard_dir = str(tmp_path / "shards")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        total = _write_shards(spark, shard_dir)

        stream = streaming.stream_transcripts(spark, shard_dir, max_files_per_trigger=1)
        assert stream.isStreaming
        q = streaming.run_stream_to_parquet(stream, out, ckpt, once=True)
        q.awaitTermination(180)

        got = spark.read.parquet(out)
        assert got.count() == total
        assert got.select("conv_id", "turn_idx").distinct().count() == total

        # restart with no new data → no duplicates (exactly-once sink)
        q2 = streaming.run_stream_to_parquet(
            streaming.stream_transcripts(spark, shard_dir), out, ckpt, once=True
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out).count() == total

    def test_stream_equals_batch_extraction(self, spark, tmp_path):
        """The streamed extraction is batch ``extract_turns`` row for
        row on every extracted column."""
        from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
            drop_internal,
            extract_turns,
        )

        shard_dir = str(tmp_path / "shards")
        out = str(tmp_path / "out")
        total = _write_shards(spark, shard_dir)
        q = streaming.run_stream_to_parquet(
            streaming.stream_transcripts(spark, shard_dir), out,
            str(tmp_path / "ckpt"), once=True,
        )
        q.awaitTermination(180)

        batch = drop_internal(extract_turns(spark.read.parquet(shard_dir)))
        cols = batch.columns
        got = spark.read.parquet(out).select(*cols).orderBy("conv_id", "turn_idx").collect()
        want = batch.orderBy("conv_id", "turn_idx").collect()
        assert len(got) == total
        assert got == want

    def test_windowed_counts_plan(self, spark, tmp_path):
        shard_dir = str(tmp_path / "shards2")
        _write_shards(spark, shard_dir, n_shards=1)
        stream = streaming.stream_transcripts(spark, shard_dir)
        counts = streaming.windowed_turn_counts(streaming.extracted_stream(stream))
        assert counts.isStreaming
        assert set(counts.columns) == {
            "window_start", "window_end", "classification", "n_turns",
        }


# classes: a a b b | b a a a  → sections 1 1 2 2 | 2 3 3 3(start→4)
_TURNS = [
    (0, "a", "continue"), (1, "a", "continue"),
    (2, "b", "continue"), (3, "b", "continue"),
    (4, "b", "continue"), (5, "a", "continue"),
    (6, "a", "continue"), (7, "a", "start"),
]
_WANT = {0: 1, 1: 1, 2: 2, 3: 2, 4: 2, 5: 3, 6: 3, 7: 4}


def _write_turn_shards(shard_dir, chunks, mtimes):
    """Write each chunk as one parquet shard with an EXPLICIT distinct
    mtime — Spark's file source orders micro-batches by mtime, and
    same-second mtimes made shard order nondeterministic in round 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("conv_id", pa.string()), ("turn_idx", pa.int32()),
         ("classification", pa.string()), ("boundary", pa.string())]
    )
    shard_dir.mkdir(exist_ok=True)
    for si, (chunk, mt) in enumerate(zip(chunks, mtimes)):
        path = str(shard_dir / f"shard{si}.parquet")
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "conv_id": ["c1"] * len(chunk),
                    "turn_idx": [t[0] for t in chunk],
                    "classification": [t[1] for t in chunk],
                    "boundary": [t[2] for t in chunk],
                },
                schema=schema,
            ),
            path,
        )
        os.utime(path, (mt, mt))


def _run_sections_stream(spark, shard_dir, tmp_path, sub):
    from accelerated_intelligent_document_processing_on_aws_spark.streaming.stateful import (
        streaming_sections,
    )

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, classification string, boundary string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(shard_dir))
    )
    out_dir = str(tmp_path / f"out_{sub}")
    q = (
        streaming_sections(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{sub}"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out_dir).collect()


class TestStatefulSegmentation:
    def test_sections_continue_across_microbatches(self, spark, tmp_path):
        """Turns of one conversation split across two shards (delivered as
        two micro-batches, in order) must get ONE continuous section
        numbering equal to the batch BIO result."""
        shard_dir = tmp_path / "shards"
        _write_turn_shards(
            shard_dir, (_TURNS[:4], _TURNS[4:]), mtimes=(1_700_000_000, 1_700_000_060)
        )
        rows = _run_sections_stream(spark, shard_dir, tmp_path, "inorder")
        got = {r["turn_idx"]: r["section_id"] for r in rows}
        assert got == _WANT
        assert all(r["dups_after"] == 0 for r in rows)

    def test_out_of_order_shards_buffered_not_dropped(self, spark, tmp_path):
        """The LATER turns arrive in the FIRST micro-batch (earlier mtime).
        Round 1 silently dropped the first shard's turns; the reorder
        buffer must hold turns 4-7 until 0-3 arrive and emit the exact
        batch numbering."""
        shard_dir = tmp_path / "shards_ooo"
        # shard0 = turns 4-7 with the EARLIER mtime → delivered first
        _write_turn_shards(
            shard_dir, (_TURNS[4:], _TURNS[:4]), mtimes=(1_700_000_000, 1_700_000_060)
        )
        rows = _run_sections_stream(spark, shard_dir, tmp_path, "ooo")
        got = {r["turn_idx"]: r["section_id"] for r in rows}
        assert got == _WANT

    def test_duplicate_delivery_counted_not_silent(self, spark, tmp_path):
        """Redelivering a shard must not re-emit rows, and the duplicate
        count must surface on the output (no silent data handling)."""
        shard_dir = tmp_path / "shards_dup"
        _write_turn_shards(
            shard_dir,
            (_TURNS[:4], _TURNS[:4], _TURNS[4:]),
            mtimes=(1_700_000_000, 1_700_000_060, 1_700_000_120),
        )
        rows = _run_sections_stream(spark, shard_dir, tmp_path, "dup")
        got = {r["turn_idx"]: r["section_id"] for r in rows}
        assert got == _WANT  # each turn exactly once, correct numbering
        assert max(r["dups_after"] for r in rows) == 4  # redelivered shard counted


class TestWatermarkLateData:
    def test_late_rows_dropped_from_finalized_window(self, spark, tmp_path):
        """End-to-end watermark semantics: a row arriving after the
        watermark passed its window is dropped; the finalized window
        count reflects only on-time rows (append mode emits a window
        exactly once, when the watermark crosses its end)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.streaming.ingest import (
            windowed_turn_counts,
        )

        def ts(minute, second=0):
            return datetime(2026, 1, 1, 10, minute, second, tzinfo=timezone.utc)

        schema = pa.schema(
            [("ts", pa.timestamp("us", tz="UTC")), ("classification", pa.string())]
        )
        shard_dir = tmp_path / "wshards"
        shard_dir.mkdir()

        def write(name, rows, mtime):
            path = str(shard_dir / name)
            pq.write_table(
                pa.Table.from_pydict(
                    {"ts": [r[0] for r in rows], "classification": [r[1] for r in rows]},
                    schema=schema,
                ),
                path,
            )
            os.utime(path, (mtime, mtime))

        # batch 0: three on-time rows in the 10:00 window, plus one at
        # 10:10 that advances the watermark (2 min) to 10:08
        write("s0.parquet",
              [(ts(0, 10), "a"), (ts(0, 20), "a"), (ts(0, 40), "b"), (ts(10), "a")],
              1_700_000_000)
        # batch 1: advances the watermark to 10:13 and (eviction threshold
        # 10:08) FINALIZES the 10:00 window — eviction is lazy, so the
        # window must be emitted in a batch BEFORE the late row arrives
        write("s1.parquet", [(ts(15), "a")], 1_700_000_060)
        # batch 2: a LATE row for the already-evicted 10:00 window — the
        # engine must drop it rather than resurrect the window
        write("s2.parquet", [(ts(0, 30), "a")], 1_700_000_120)

        stream = (
            spark.readStream.schema("ts timestamp, classification string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shard_dir))
        )
        out_dir = str(tmp_path / "wout")
        q = (
            windowed_turn_counts(stream, window="1 minute", watermark="2 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "wckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["window_start"].minute, r["classification"]): r["n_turns"]
            for r in spark.read.parquet(out_dir).collect()
        }
        # the 10:00 window finalized with ONLY the on-time rows: the late
        # (0,30,"a") row neither bumped the count nor re-emitted the window
        assert got[(0, "a")] == 2
        assert got[(0, "b")] == 1
        # the 10:10 window was finalized by the 10:15 watermark push
        assert got.get((10, "a")) == 1
        assert len(got) == 3  # no duplicate/resurrected windows


class _FakeState:
    """Minimal GroupState stand-in for direct _segment_group calls."""

    def __init__(self, value=None):
        self._value = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value

    def setTimeoutDuration(self, ms):
        pass


def _run_group(fn, turns, state):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * len(turns),
            "turn_idx": [t[0] for t in turns],
            "classification": [t[1] for t in turns],
            "boundary": [t[2] for t in turns],
        }
    )
    return list(fn(("c1",), iter([pdf]), state))[0]


class TestMaxPendingGuard:
    """ADVICE r2: the buffer ceiling must apply AFTER the contiguous
    frontier drains — a large perfectly in-order batch is valid input,
    only a true gap may trip the guard."""

    def test_large_inorder_batch_does_not_trip_guard(self):
        from accelerated_intelligent_document_processing_on_aws_spark.streaming.stateful import (
            _make_segment_group,
        )

        fn = _make_segment_group(None, max_pending=10)
        turns = [(i, "a", "continue") for i in range(500)]  # 50x the cap, in order
        out = _run_group(fn, turns, _FakeState())
        assert len(out) == 500
        assert out["pending_after"].max() == 0

    def test_gap_over_cap_raises_loudly(self):
        import pytest

        from accelerated_intelligent_document_processing_on_aws_spark.streaming.stateful import (
            _make_segment_group,
        )

        fn = _make_segment_group(None, max_pending=10)
        # turn 0 missing: nothing drains, 11 pending > 10
        turns = [(i, "a", "continue") for i in range(1, 12)]
        with pytest.raises(RuntimeError, match="upstream turn gap"):
            _run_group(fn, turns, _FakeState())

    def test_gap_under_cap_buffers(self):
        from accelerated_intelligent_document_processing_on_aws_spark.streaming.stateful import (
            _make_segment_group,
        )

        fn = _make_segment_group(None, max_pending=10)
        turns = [(i, "a", "continue") for i in range(1, 9)]  # 8 pending <= 10
        out = _run_group(fn, turns, _FakeState())
        assert len(out) == 0  # waiting on turn 0


class TestEventTimeFlush:
    def test_watermark_driven_gap_flush(self, spark, tmp_path):
        """flush_mode='event': a gapped conversation's reorder buffer
        flushes when the WATERMARK passes its last event time + timeout
        — driven by the data's timestamps, not wall clock."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.streaming.stateful import (
            streaming_sections,
        )

        def ts(minute, second=0):
            return datetime(2026, 1, 1, 10, minute, second, tzinfo=timezone.utc)

        schema = pa.schema(
            [("conv_id", pa.string()), ("turn_idx", pa.int32()),
             ("classification", pa.string()), ("boundary", pa.string()),
             ("ts", pa.timestamp("us", tz="UTC"))]
        )
        shard_dir = tmp_path / "eshards"
        shard_dir.mkdir()

        def write(name, rows, mtime):
            path = str(shard_dir / name)
            pq.write_table(
                pa.Table.from_pydict(
                    {k: [r[i] for r in rows] for i, k in enumerate(schema.names)},
                    schema=schema,
                ),
                path,
            )
            os.utime(path, (mtime, mtime))

        # batch 0: c1 turns 2,3 (turns 0,1 MISSING) at 10:00
        write("s0.parquet",
              [("c1", 2, "a", "continue", ts(0)), ("c1", 3, "b", "continue", ts(0))],
              1_700_000_000)
        # batch 1: watermark mover at 10:05 → wm = 10:04:50 (10s delay),
        # past c1's 10:00 + 60s timeout
        write("s1.parquet", [("wm", 0, "x", "continue", ts(5))], 1_700_000_060)
        # batch 2: another mover so the fired timeout is processed
        write("s2.parquet", [("wm", 1, "x", "continue", ts(6))], 1_700_000_120)

        stream = (
            spark.readStream.schema(
                "conv_id string, turn_idx int, classification string, "
                "boundary string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shard_dir))
        )
        out_dir = str(tmp_path / "eout")
        q = (
            streaming_sections(
                stream, flush_timeout_ms=60_000, flush_mode="event",
                watermark_delay="10 seconds",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "eckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.read.parquet(out_dir).collect()
        c1 = {r["turn_idx"]: r for r in rows if r["conv_id"] == "c1"}
        assert set(c1) == {2, 3}, "buffered turns must flush once wm passes"
        assert all(r["gap_flushed"] for r in c1.values())
        assert c1[2]["section_id"] == 1 and c1[3]["section_id"] == 2
        wm = {r["turn_idx"]: r for r in rows if r["conv_id"] == "wm"}
        assert not any(r["gap_flushed"] for r in wm.values())


class TestStreamingSessionWindows:
    def test_sessions_merge_across_microbatches(self, spark, tmp_path):
        """Built-in session_window in a stream: one user's events arrive
        in TWO micro-batches 10 minutes apart (same session, gap 30m) —
        the state store must merge them into ONE session row; a later
        event past the gap starts a new session; finalization happens
        when the watermark passes session_end + nothing pending."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.streaming.ingest import (
            streaming_session_counts,
        )

        def ts(minute):
            return datetime(2026, 1, 1, 10 + minute // 60, minute % 60, 0,
                            tzinfo=timezone.utc)

        schema = pa.schema(
            [("user_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC"))]
        )
        shard_dir = tmp_path / "sess_shards"
        shard_dir.mkdir()

        def write(name, rows, mtime):
            path = str(shard_dir / name)
            pq.write_table(
                pa.Table.from_pydict(
                    {"user_id": [r[0] for r in rows], "ts": [r[1] for r in rows]},
                    schema=schema,
                ),
                path,
            )
            os.utime(path, (mtime, mtime))

        # batch 0: user 1 at 10:00, 10:05
        write("s0.parquet", [(1, ts(0)), (1, ts(5))], 1_700_000_000)
        # batch 1: user 1 at 10:15 — still the same session (gaps < 30m)
        write("s1.parquet", [(1, ts(15))], 1_700_000_060)
        # batch 2: user 1 at 11:59 — new session; also advances the
        # watermark (10m delay → 11:49) past 10:45 = first session end
        write("s2.parquet", [(1, ts(119))], 1_700_000_120)
        # batch 3: watermark mover to finalize everything pending
        write("s3.parquet", [(2, ts(170))], 1_700_000_180)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shard_dir))
        )
        out_dir = str(tmp_path / "sess_out")
        q = (
            streaming_session_counts(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = [r for r in spark.read.parquet(out_dir).collect() if r["user_id"] == 1]
        by_start = {r["session_start"].minute: r for r in rows}
        # ONE merged session covering 10:00-10:15 (+gap), count 3
        assert 0 in by_start and by_start[0]["n_events"] == 3
        assert by_start[0]["session_end"].minute == 45  # 10:15 + 30m gap
        # the 11:59 event is its own finalized session of 1
        assert 59 in by_start and by_start[59]["n_events"] == 1


class TestStreamingDedup:
    def test_replayed_rows_dropped_within_watermark(self, spark, tmp_path):
        """At-least-once delivery (the reference's SQS replay case):
        the same turns arrive again in a LATER micro-batch; the
        watermarked dedup emits each key exactly once, with bounded
        state."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        shard_dir = str(tmp_path / "shards")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(shard_dir, exist_ok=True)

        schema = pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us", tz="UTC")),
            ]
        )
        t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
        rows = [
            {
                "conv_id": "c1",
                "turn_idx": i,
                "role": "user",
                "text": f"turn {i}",
                "tool": None,
                "ts": t0,
            }
            for i in range(20)
        ]

        def dump(path, rs):
            cols = {k: [r[k] for r in rs] for k in schema.names}
            pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)

        # shard0: originals; shard1: full replay + 5 new turns
        dump(f"{shard_dir}/shard0.parquet", rows)
        replay = rows + [
            {**rows[0], "turn_idx": 20 + i, "text": f"turn {20 + i}"}
            for i in range(5)
        ]
        dump(f"{shard_dir}/shard1.parquet", replay)

        stream = streaming.stream_transcripts(spark, shard_dir, max_files_per_trigger=1)
        deduped = streaming.dedup_stream(stream, ("conv_id", "turn_idx"), "10 minutes")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = spark.read.parquet(out)
        assert got.count() == 25  # 20 originals + 5 new, replays dropped
        assert got.select("conv_id", "turn_idx").distinct().count() == 25
