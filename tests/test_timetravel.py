"""Data-level time travel on the versioned parquet layout
(``sources/checkpoint.py``): snapshot reads, versioned deletes,
metadata-only rollback, expiration GC.

This closes — at the semantics level, on the documented parquet
fallback — the "DATA time travel needs the real Iceberg catalog" gap:
the mechanism used is Iceberg's own (immutable data files + snapshot-
scoped location pointers), so with the catalog present these calls map
1:1 onto table snapshots.  Reference analog: reprocessing via workflow
cache generations (``classification/service.py:1627-1778``) and the
``delete_documents.py:286-420`` compliance path.
"""

from __future__ import annotations

import os

import pytest

from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
    delete_conversations_versioned,
    expire_snapshots,
    read_manifest,
    read_snapshot,
    rollback_to_snapshot,
    run_checkpointed_extraction,
    run_versioned_extraction,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
        write_transcripts_parquet,
    )

    p = tmp_path_factory.mktemp("tt-corpus") / "t.parquet"
    write_transcripts_parquet(str(p), n_convs=60, seed=23)
    return str(p)


def _rows(df):
    cols = ["conv_id", "turn_idx", "extracted_text"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestVersionedLayout:
    def test_snapshot_reads_see_exact_wave_states(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(
            spark, src, out, n_buckets=4, wave_size=2, salt=4
        )
        m = read_manifest(out)
        assert m["snapshot_id"] == 2  # two waves → two commits
        full = read_snapshot(spark, out)
        as_of_1 = read_snapshot(spark, out, 1)
        as_of_2 = read_snapshot(spark, out, 2)
        assert _rows(as_of_2) == _rows(full)
        # snapshot 1 holds exactly the first wave's buckets — a strict
        # non-empty subset of the full corpus
        r1, rf = set(_rows(as_of_1)), set(_rows(full))
        assert r1 and r1 < rf
        buckets_1 = {r["bucket"] for r in as_of_1.select("bucket").distinct().collect()}
        assert buckets_1 == set(m["snapshots"][0]["added"])

    def test_versioned_matches_unversioned_layout(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        base = tmp_path_factory.mktemp("tt-parity")
        out_v = str(base / "versioned")
        out_u = str(base / "plain")
        run_versioned_extraction(spark, src, out_v, n_buckets=4, wave_size=4, salt=4)
        run_checkpointed_extraction(spark, src, out_u, n_buckets=4, wave_size=4, salt=4)
        got = _rows(read_snapshot(spark, out_v))
        want = _rows(spark.read.parquet(os.path.join(out_u, "extracted")))
        assert got == want

    def test_crash_resume_appends_snapshots(self, spark, corpus, tmp_path_factory):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_versioned_extraction(
                spark, src, out, n_buckets=4, wave_size=2, fail_after_waves=1, salt=4
            )
        assert read_manifest(out)["snapshot_id"] == 1
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=2, salt=4)
        ref = str(tmp_path_factory.mktemp("tt") / "ref")
        run_versioned_extraction(spark, src, ref, n_buckets=4, wave_size=2, salt=4)
        assert _rows(read_snapshot(spark, out)) == _rows(read_snapshot(spark, ref))

    def test_delete_is_logical_until_expired(self, spark, corpus, tmp_path_factory):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=4, salt=4)
        victim = src.select("conv_id").first()["conv_id"]
        pre_sid = read_manifest(out)["snapshot_id"]
        deleted = delete_conversations_versioned(spark, out, [victim])
        assert sum(deleted.values()) > 0
        m = read_manifest(out)
        assert m["snapshot_id"] == pre_sid + 1
        # latest read excludes the victim; the PRE-DELETE snapshot still
        # contains it — data-level time travel across a delete commit
        latest = read_snapshot(spark, out)
        before = read_snapshot(spark, out, pre_sid)
        assert latest.where(latest.conv_id == victim).count() == 0
        assert before.where(before.conv_id == victim).count() > 0
        # only the victim's rows differ
        assert set(_rows(before)) - set(_rows(latest)) == {
            t for t in _rows(before) if t[0] == victim
        }

    def test_rollback_is_readable_without_reextraction(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=2, salt=4)
        want_sid1 = _rows(read_snapshot(spark, out, 1))
        rollback_to_snapshot(out, 1)
        # the rolled-back state is the CURRENT state, instantly, because
        # snapshot 1's files were never mutated
        assert _rows(read_snapshot(spark, out)) == want_sid1
        # resuming re-extracts only the rolled-back buckets and converges
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=2, salt=4)
        ref = str(tmp_path_factory.mktemp("tt") / "ref")
        run_versioned_extraction(spark, src, ref, n_buckets=4, wave_size=2, salt=4)
        assert _rows(read_snapshot(spark, out)) == _rows(read_snapshot(spark, ref))

    def test_expire_hard_deletes_and_collects_orphans(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=4, salt=4)
        victim = src.select("conv_id").first()["conv_id"]
        delete_conversations_versioned(spark, out, [victim])
        del_sid = read_manifest(out)["snapshot_id"]
        # plant an orphan from a "crashed commit"
        orphan = os.path.join(out, "data", "v=99", "bucket_pt=0")
        os.makedirs(orphan)
        res = expire_snapshots(out, keep_from=del_sid)
        assert set(res["expired"]) == {1}
        assert "v=99/bucket_pt=0" in res["removed_locations"]
        # pre-delete snapshot data is physically gone and unreadable
        with pytest.raises(ValueError, match="expired"):
            read_snapshot(spark, out, 1)
        # the victim's bytes are no longer anywhere on disk (hard delete)
        remaining = read_snapshot(spark, out)
        assert remaining.where(remaining.conv_id == victim).count() == 0
        for root, _dirs, files in os.walk(os.path.join(out, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    n = (
                        spark.read.parquet(os.path.join(root, f))
                        .where(f"conv_id = '{victim}'")
                        .count()
                    )
                    assert n == 0
        # kept snapshots still read fine
        assert read_snapshot(spark, out, del_sid).count() == remaining.count()

    def test_unknown_and_expired_snapshots_raise(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=2, wave_size=2, salt=4)
        with pytest.raises(KeyError):
            read_snapshot(spark, out, 42)

    def test_compact_snapshot_shrinks_files_preserving_rows(
        self, spark, corpus, tmp_path_factory
    ):
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=2, wave_size=2, salt=4)
        pre_sid = read_manifest(out)["snapshot_id"]
        pre_rows = _rows(read_snapshot(spark, out))

        def n_files(loc):
            d = os.path.join(out, "data", loc)
            return len([f for f in os.listdir(d) if f.endswith(".parquet")])

        pre_map = read_manifest(out)["data_locations"]
        assert any(n_files(loc) > 1 for loc in pre_map.values())
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            compact_snapshot,
        )

        changed = compact_snapshot(spark, out)  # tiny data → 1 file/bucket
        assert changed and all(after < before for before, after in changed.values())
        m = read_manifest(out)
        assert m["snapshot_id"] == pre_sid + 1
        assert all(n_files(loc) == 1 for loc in m["data_locations"].values())
        # rows unchanged, and the PRE-compaction snapshot still readable
        assert _rows(read_snapshot(spark, out)) == pre_rows
        assert _rows(read_snapshot(spark, out, pre_sid)) == pre_rows
        # expire collects the pre-compaction file sets; latest unaffected
        expire_snapshots(out, keep_from=m["snapshot_id"])
        assert _rows(read_snapshot(spark, out)) == pre_rows
        with pytest.raises(ValueError, match="expired"):
            read_snapshot(spark, out, pre_sid)

    def test_incremental_scan_reads_only_changed_buckets(
        self, spark, corpus, tmp_path_factory
    ):
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            read_incremental,
        )

        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=2, salt=4)
        # snapshots 1 and 2 = the two waves; incremental (1, 2] is wave 2
        inc = read_incremental(spark, out, since_snapshot_id=1)
        full, s1 = read_snapshot(spark, out), read_snapshot(spark, out, 1)
        assert sorted(_rows(inc) + _rows(s1)) == _rows(full)
        # a delete commit surfaces only the rewritten buckets
        victim = src.select("conv_id").first()["conv_id"]
        pre_sid = read_manifest(out)["snapshot_id"]
        delete_conversations_versioned(spark, out, [victim])
        inc2 = read_incremental(spark, out, since_snapshot_id=pre_sid)
        m = read_manifest(out)
        changed_buckets = set(
            int(b) for b in m["snapshots"][-1]["data"].keys()
        )
        got_buckets = {
            r["bucket"] for r in inc2.select("bucket").distinct().collect()
        }
        assert got_buckets == changed_buckets
        assert inc2.where(inc2.conv_id == victim).count() == 0
        # empty range → empty frame with the full schema
        inc3 = read_incremental(
            spark, out, since_snapshot_id=m["snapshot_id"],
            upto_snapshot_id=m["snapshot_id"],
        )
        assert inc3.count() == 0 and inc3.columns == full.columns
        with pytest.raises(KeyError):
            read_incremental(spark, out, since_snapshot_id=77)


    def test_incremental_range_across_rollback(self, spark, corpus, tmp_path_factory):
        """A bucket that a delete moved and a rollback moved back counts
        as changed in any range holding either commit, and surfaces as
        its file set as of the range's end."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            read_incremental,
        )

        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=4, wave_size=2, salt=4)
        victim = src.select("conv_id").first()["conv_id"]
        delete_conversations_versioned(spark, out, [victim])  # snapshot 3
        rollback_to_snapshot(out, 2, allow_undelete=True)  # snapshot 4
        m = read_manifest(out)
        assert [s["operation"] for s in m["snapshots"][2:]] == ["delete", "rollback_to_2"]
        (b,) = (int(k) for k in m["snapshots"][2]["data"])

        def bucket_rows(df):
            return _rows(df.where(df.bucket == b))

        restored = bucket_rows(read_snapshot(spark, out, 2))
        rewritten = bucket_rows(read_snapshot(spark, out, 3))
        assert any(t[0] == victim for t in restored)
        assert not any(t[0] == victim for t in rewritten)
        assert _rows(read_incremental(spark, out, 2, 4)) == restored
        assert _rows(read_incremental(spark, out, 3, 4)) == restored
        assert _rows(read_incremental(spark, out, 2, 3)) == rewritten
        # (1, 4] holds wave 2 too: its buckets plus the one moved and back
        touched = set(m["snapshots"][1]["added"]) | {b}
        latest = read_snapshot(spark, out, 4)
        assert _rows(read_incremental(spark, out, 1, 4)) == _rows(
            latest.where(latest.bucket.isin(sorted(touched)))
        )

    def test_expire_keeps_every_location_a_kept_snapshot_reads(
        self, spark, corpus, tmp_path_factory
    ):
        """Three kept snapshots point one bucket at three locations;
        expiring below the first of them collects only the location no
        kept snapshot reads."""
        src = spark.read.parquet(corpus)
        out = str(tmp_path_factory.mktemp("tt") / "run")
        run_versioned_extraction(spark, src, out, n_buckets=2, wave_size=2, salt=4)
        full = read_snapshot(spark, out, 1)
        convs = sorted(
            r["conv_id"] for r in full.where(full.bucket == 0).select("conv_id").distinct().collect()
        )
        counts = [full.count()]
        for victim in convs[:3]:  # snapshots 2, 3 and 4
            delete_conversations_versioned(spark, out, [victim])
            counts.append(read_snapshot(spark, out).count())
        m = read_manifest(out)
        assert [s["data"] for s in m["snapshots"][1:]] == [
            {"0": f"v={sid}/bucket_pt=0"} for sid in (2, 3, 4)
        ]
        res = expire_snapshots(out, keep_from=2)
        assert res == {"expired": [1], "removed_locations": ["v=1/bucket_pt=0"]}
        for sid in (2, 3, 4):
            assert read_snapshot(spark, out, sid).count() == counts[sid - 1]
        assert counts[0] > counts[1] > counts[2] > counts[3]


class TestVersionedStreamSink:
    def test_stream_commits_snapshots_exactly_once(
        self, spark, corpus, tmp_path_factory
    ):
        import glob
        import shutil

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            versioned_stream_sink,
        )

        base = tmp_path_factory.mktemp("tt-stream")
        shard_dir = base / "shards"
        shard_dir.mkdir()
        src = spark.read.parquet(corpus)
        total = src.count()
        half = total // 2
        ranked = src.withColumn(
            "rn", F.row_number().over(Window.orderBy("conv_id", "turn_idx"))
        )
        for i, pred in enumerate(
            (F.col("rn") <= half, F.col("rn") > half)
        ):
            tmpd = str(base / f"w{i}")
            ranked.where(pred).drop("rn").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmpd)
            shutil.move(
                glob.glob(tmpd + "/part-*.parquet")[0],
                str(shard_dir / f"shard{i}.parquet"),
            )
        out = str(base / "out")
        sink = versioned_stream_sink(out, salt=4)
        q = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shard_dir))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(base / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        m = read_manifest(out)
        assert len(m.get("stream_batches", [])) == 2
        assert m["snapshot_id"] == 2
        # streamed result == batch extraction of the full input
        from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
            extract_turns,
        )

        want = sorted(
            tuple(r)
            for r in extract_turns(src, salt=4)
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        )
        got = _rows(read_snapshot(spark, out))
        assert got == want
        # snapshot 1 = exactly the first micro-batch
        assert read_snapshot(spark, out, 1).count() == half
        # at-least-once redelivery of a committed batch is a no-op
        sink(src.limit(5), 0)
        assert read_manifest(out)["snapshot_id"] == 2
        assert _rows(read_snapshot(spark, out)) == got
        # layout-mixing guards both ways
        with pytest.raises(ValueError, match="mix layouts"):
            run_versioned_extraction(spark, src, out, n_buckets=4)
        wave_out = str(base / "wave")
        run_versioned_extraction(spark, src, wave_out, n_buckets=2, wave_size=2, salt=4)
        with pytest.raises(ValueError, match="mix layouts"):
            versioned_stream_sink(wave_out)(src, 0)
