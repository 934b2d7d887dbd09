"""Checkpoint/resume + reporting sinks — SURVEY.md §5(e)."""

import os

import pytest
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    extract_turns,
)
from accelerated_intelligent_document_processing_on_aws_spark.sources import reporting
from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
    bucket_col,
    read_manifest,
    resume_pending,
    run_checkpointed_extraction,
    run_versioned_extraction,
)


@pytest.fixture(scope="module")
def small_corpus(spark, tmp_path_factory):
    from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
        write_transcripts_parquet,
    )

    p = tmp_path_factory.mktemp("ckpt-corpus") / "t.parquet"
    write_transcripts_parquet(str(p), n_convs=60, seed=11)
    return str(p)


class TestResume:
    def test_crash_resume_identical_output(self, spark, small_corpus, tmp_path_factory):
        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("ckpt") / "run")

        with pytest.raises(RuntimeError, match="injected crash"):
            run_checkpointed_extraction(
                spark, src, out, n_buckets=8, wave_size=2, fail_after_waves=2
            )
        m = read_manifest(out)
        assert len(m["done_buckets"]) == 4
        assert resume_pending(out, 8) == [b for b in range(8) if b not in m["done_buckets"]]

        # resume to completion
        run_checkpointed_extraction(spark, src, out, n_buckets=8, wave_size=2)
        assert resume_pending(out, 8) == []

        got = spark.read.parquet(os.path.join(out, "extracted"))
        # identical to a single-shot run
        single = extract_turns(src, salt=4)
        a = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in got.select("conv_id", "turn_idx", "extracted_text").collect()
        }
        b = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in single.select("conv_id", "turn_idx", "extracted_text").collect()
        }
        assert a == b

        # no duplicate rows, no duplicate lineage accounting
        assert got.count() == got.select("conv_id", "turn_idx").distinct().count()
        lin = spark.read.parquet(os.path.join(out, "lineage"))
        assert lin.agg(F.sum("rows_out")).collect()[0][0] == got.count()

    def test_snapshot_history_and_rollback(self, spark, small_corpus, tmp_path_factory):
        """Iceberg-style snapshot checkpoints on the manifest layer:
        every wave commit is a monotonically numbered snapshot;
        manifest_as_of reconstructs any prior state; rollback is itself
        a NEW snapshot (history never rewritten) and re-running after a
        rollback re-extracts exactly the rolled-back buckets to a
        byte-stable result."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            manifest_as_of,
            rollback_to_snapshot,
        )

        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("snap") / "run")
        run_checkpointed_extraction(spark, src, out, n_buckets=8, wave_size=2)
        m = read_manifest(out)
        assert m["snapshot_id"] == 4  # four waves → four commits
        ops = [snap["operation"] for snap in m["snapshots"]]
        assert len(ops) == 4 and all(op.startswith("wave:") for op in ops)
        # as-of the second commit only two waves were done
        mid = m["snapshots"][1]["snapshot_id"]
        state = manifest_as_of(out, mid)
        assert len(state["done_buckets"]) == 4

        before = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in spark.read.parquet(os.path.join(out, "extracted"))
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        }
        # rollback → those buckets become pending again, ids stay monotonic
        rolled = rollback_to_snapshot(out, mid)
        assert rolled["snapshot_id"] == 5
        assert rolled["snapshots"][-1]["operation"] == f"rollback_to_{mid}"
        pend = resume_pending(out, 8)
        assert len(pend) == 4
        # resume re-extracts the rolled-back buckets idempotently
        run_checkpointed_extraction(spark, src, out, n_buckets=8, wave_size=2)
        assert resume_pending(out, 8) == []
        after = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in spark.read.parquet(os.path.join(out, "extracted"))
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        }
        assert after == before
        assert read_manifest(out)["snapshot_id"] == 7  # two more waves
        with pytest.raises(KeyError):
            manifest_as_of(out, 99)

    def test_snapshot_history_is_delta_encoded(
        self, spark, small_corpus, tmp_path_factory
    ):
        """History entries store per-commit deltas (buckets added /
        removed), not the full done_buckets list — manifest bytes stay
        O(total churn) over a long many-wave run, not
        O(waves × n_buckets) (ADVICE r5).  Legacy full-state entries
        still replay (back-compat path in _replay)."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            _replay,
            manifest_as_of,
        )

        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("delta") / "run")
        run_checkpointed_extraction(spark, src, out, n_buckets=8, wave_size=2)
        m = read_manifest(out)
        total_listed = 0
        for snap in m["snapshots"]:
            assert "done_buckets" not in snap  # delta form, not full state
            total_listed += len(snap.get("added", [])) + len(snap.get("removed", []))
        assert total_listed == 8  # each bucket appears exactly once
        # replay reconstructs every intermediate state
        for i, snap in enumerate(m["snapshots"]):
            state = manifest_as_of(out, snap["snapshot_id"])
            assert len(state["done_buckets"]) == 2 * (i + 1)
        # legacy manifests (full-state entries) replay identically
        legacy = [
            {"snapshot_id": 1, "operation": "wave", "done_buckets": [0, 1]},
            {"snapshot_id": 2, "operation": "wave", "done_buckets": [0, 1, 2, 3]},
            {"snapshot_id": 3, "operation": "rollback_to_1", "done_buckets": [0, 1]},
        ]
        done = {snap["snapshot_id"]: set(d) for snap, d, _ in _replay(legacy)}
        assert done[2] == {0, 1, 2, 3}
        assert done[3] == {0, 1}

    @pytest.mark.parametrize("versioned", [False, True], ids=["inplace", "versioned"])
    def test_rollback_crossing_delete_refused_then_replayed(
        self, spark, small_corpus, tmp_path_factory, versioned
    ):
        """Rolling back past a delete_conversations commit would
        resurrect the deleted conversations on resume (the source
        corpus still has them).  Such rollbacks are refused unless
        forced with allow_undelete=True, and replay_deletions restores
        compliance after the forced resume (ADVICE r5, medium).  On the
        versioned layout the rolled-back rows are readable at once, and
        replay_deletions must run that layout's deleter."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            delete_conversations,
            delete_conversations_versioned,
            manifest_as_of,
            read_snapshot,
            replay_deletions,
            rollback_to_snapshot,
        )

        if versioned:
            run, delete = run_versioned_extraction, delete_conversations_versioned
        else:
            run, delete = run_checkpointed_extraction, delete_conversations

        def extracted():
            if versioned:
                return read_snapshot(spark, out)
            return spark.read.parquet(os.path.join(out, "extracted"))

        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("undel") / "run")
        run(spark, src, out, n_buckets=8, wave_size=2)
        last_wave_sid = read_manifest(out)["snapshot_id"]
        # victims must live in buckets the forced rollback will re-extract,
        # or the resurrection hazard can't manifest
        sid1 = read_manifest(out)["snapshots"][1]["snapshot_id"]
        done_at_sid1 = set(manifest_as_of(out, sid1)["done_buckets"])
        rolled_back = sorted(set(range(8)) - done_at_sid1)
        victims = [
            r["conv_id"]
            for r in extracted()
            .where(F.col("bucket").isin(rolled_back))
            .select("conv_id")
            .distinct()
            .limit(3)
            .collect()
        ]
        assert victims
        deleted = delete(spark, out, victims)
        assert sum(deleted.values()) > 0

        # refuse: target snapshot precedes the delete commit
        with pytest.raises(ValueError, match="resurrect"):
            rollback_to_snapshot(out, sid1)
        # rollback to a snapshot AFTER the delete commit is fine
        delete_sid = read_manifest(out)["snapshot_id"]
        assert read_manifest(out)["snapshots"][-1]["operation"] == "delete"
        rollback_to_snapshot(out, delete_sid)

        # forced rollback past the delete, resume, then replay the log
        rollback_to_snapshot(out, sid1, allow_undelete=True)
        assert len(resume_pending(out, 8)) == 4
        run(spark, src, out, n_buckets=8, wave_size=2)
        resurrected = extracted().where(F.col("conv_id").isin(victims)).count()
        assert resurrected > 0  # the hazard is real: resume undid the delete
        replayed = replay_deletions(spark, out)
        assert sum(replayed.values()) == resurrected
        assert extracted().where(F.col("conv_id").isin(victims)).count() == 0
        # delete commits never mutate bucket state
        as_of_delete = manifest_as_of(out, delete_sid)
        as_of_wave = manifest_as_of(out, last_wave_sid)
        assert as_of_delete["done_buckets"] == as_of_wave["done_buckets"]

    def test_rerun_completed_is_noop(self, spark, small_corpus, tmp_path_factory):
        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("ckpt2") / "run")
        run_checkpointed_extraction(spark, src, out, n_buckets=4, wave_size=4)
        n1 = spark.read.parquet(os.path.join(out, "extracted")).count()
        run_checkpointed_extraction(spark, src, out, n_buckets=4, wave_size=4)
        n2 = spark.read.parquet(os.path.join(out, "extracted")).count()
        assert n1 == n2

    def test_lineage_has_one_kernel_task_per_core(
        self, spark, small_corpus, tmp_path_factory
    ):
        """Every wave runs one kernel task per core, so every lineage
        partition id lies in [0, defaultParallelism), and the lineage
        counts each input row once."""
        src = spark.read.parquet(small_corpus)
        out = str(tmp_path_factory.mktemp("ckpt-lin") / "run")
        run_checkpointed_extraction(spark, src, out, n_buckets=4, wave_size=2)
        lin = spark.read.parquet(os.path.join(out, "lineage"))
        lo, hi, rows_in = lin.agg(
            F.min("partition_id"), F.max("partition_id"), F.sum("rows_in")
        ).first()
        assert 0 <= lo and hi < spark.sparkContext.defaultParallelism
        assert rows_in == src.count()


LINEAGE_KEY = ["bucket", "partition_id", "rows_in", "rows_out"]


class TestWaveLineage:
    """A wave counts its lineage inside the kernel task of its one write
    job; the rows must be the per-task counts of an extraction of the
    whole corpus."""

    @pytest.mark.parametrize(
        "writer", [run_checkpointed_extraction, run_versioned_extraction]
    )
    def test_lineage_equals_aggregated_lineage_across_resume(
        self, spark, small_corpus, tmp_path, writer, kernel_tasks
    ):
        src = spark.read.parquet(small_corpus)
        out = str(tmp_path / "run")
        kw = dict(n_buckets=8, wave_size=3, salt=4)
        with pytest.raises(RuntimeError, match="injected crash"):
            writer(spark, src, out, fail_after_waves=1, **kw)
        writer(spark, src, out, **kw)
        got = spark.read.parquet(os.path.join(out, "lineage"))
        # a row's kernel partition depends only on the row, so one
        # extraction of the whole corpus has the waves' lineage
        want = kernel_tasks(
            extract_turns(src, salt=4).withColumn("bucket", bucket_col(8)), "bucket"
        )
        assert sorted(map(tuple, got.select(LINEAGE_KEY).collect())) == sorted(
            map(tuple, want.select(LINEAGE_KEY).collect())
        )
        assert got.agg(F.sum("rows_in")).first()[0] == src.count()
        assert got.where(F.col("extract_ms") < 0).count() == 0

    def test_lineage_schema_unchanged(self, spark, small_corpus, tmp_path):
        out = str(tmp_path / "run")
        run_checkpointed_extraction(
            spark, spark.read.parquet(small_corpus), out, n_buckets=4, wave_size=4
        )
        assert spark.read.parquet(os.path.join(out, "lineage")).dtypes == [
            ("partition_id", "int"),
            ("rows_in", "bigint"),
            ("rows_out", "bigint"),
            ("extract_ms", "double"),
            ("ts", "timestamp"),
            ("bucket", "int"),
        ]

    def test_one_wave_is_one_write_job(
        self, spark, small_corpus, tmp_path, monkeypatch
    ):
        """A one-wave run starts the scan's shuffle job and the write job,
        nothing else: no cache build, no re-read of the output, no
        lineage aggregate.  Two jobs also means no shuffle sits between
        the kernel and the write (AQE runs each shuffle stage as its own
        job), so the kernel's lineage counts come from result tasks."""
        from pyspark.sql.readwriter import DataFrameWriter

        plans = []
        write = DataFrameWriter.parquet

        def recording_write(self, path, *args, **kwargs):
            plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
            return write(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", recording_write)
        sc = spark.sparkContext
        src = spark.read.parquet(small_corpus)
        persisted = set(sc._jsc.getPersistentRDDs().keys())
        group = "one-wave-checkpoint"
        sc.setJobGroup(group, "one checkpoint wave")
        try:
            run_checkpointed_extraction(
                spark, src, str(tmp_path / "run"), n_buckets=4, wave_size=4
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
        assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
        assert len(plans) == 1 and "InMemoryRelation" not in plans[0]


class TestReporting:
    def test_date_partitioned_layout(self, spark, small_corpus, tmp_path_factory):
        src = spark.read.parquet(small_corpus).limit(200)
        extracted = extract_turns(src, salt=2)
        out = str(tmp_path_factory.mktemp("rep") / "metering")
        met = reporting.metering_table(extracted)
        reporting.write_date_partitioned(met, out)
        parts = [d for d in os.listdir(out) if d.startswith("date=")]
        assert parts, "expected date=YYYY-MM-DD partition dirs"
        back = spark.read.parquet(out)
        assert back.count() == met.count()

    def test_metering_merge_and_cost(self, spark, small_corpus):
        src = spark.read.parquet(small_corpus).limit(300)
        extracted = extract_turns(src, salt=2)
        met = reporting.metering_table(extracted)
        merged = reporting.merge_metering(met)
        assert merged.count() <= 6  # 3 contexts × 2 units
        total = met.agg(F.sum("value")).collect()[0][0]
        assert merged.agg(F.sum("value")).collect()[0][0] == pytest.approx(total)
        cost = reporting.with_cost(met, reporting.default_pricing(spark))
        assert cost.where(F.col("estimated_cost") < 0).count() == 0

    def test_section_tables_per_class_layout(self, spark, small_corpus, tmp_path_factory):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            segmentation as seg,
        )

        src = spark.read.parquet(small_corpus)
        extracted = extract_turns(src, salt=2)
        secs = seg.sections(extracted, "llm_determined").withColumn(
            "date", F.lit("2026-01-01")
        )
        base = str(tmp_path_factory.mktemp("rep2") / "document_sections")
        reporting.write_section_tables(secs, base)
        classes = [d for d in os.listdir(base) if d.startswith("classification=")]
        assert len(classes) >= 2


class TestDynamicOverwrite:
    def test_rerun_same_date_no_duplicates(self, spark, small_corpus, tmp_path_factory):
        from pyspark.sql import functions as F

        src = spark.read.parquet(small_corpus).limit(200)
        extracted = extract_turns(src, salt=2)
        met = reporting.metering_table(extracted)
        out = str(tmp_path_factory.mktemp("rep3") / "metering")

        reporting.overwrite_date_partitions(met, out)
        n1 = spark.read.parquet(out).count()
        # re-run of the same day must replace, not append
        reporting.overwrite_date_partitions(met, out)
        n2 = spark.read.parquet(out).count()
        assert n1 == n2 == met.count()

    def test_other_dates_untouched(self, spark, small_corpus, tmp_path_factory):
        from pyspark.sql import functions as F

        src = spark.read.parquet(small_corpus).limit(300)
        extracted = extract_turns(src, salt=2).cache()
        met = reporting.metering_table(extracted)
        dates = [r["d"] for r in met.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().collect()]
        if len(dates) < 2:
            import pytest as _pytest

            _pytest.skip("corpus slice spans a single date")
        d0 = sorted(dates)[0]
        out = str(tmp_path_factory.mktemp("rep4") / "metering")
        reporting.overwrite_date_partitions(met, out)
        total = spark.read.parquet(out).count()
        only_d0 = met.where(F.date_format("ts", "yyyy-MM-dd") == d0)
        reporting.overwrite_date_partitions(only_d0, out)
        assert spark.read.parquet(out).count() == total


class TestCatalogRegistration:
    def test_register_section_tables_queryable_by_name(self, spark, tmp_path):
        """Glue-registration analog: per-type catalog tables partitioned
        by date, queryable via spark.sql, reference-identical name
        escaping (save_reporting_data.py:359-415)."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.reporting import (
            register_section_tables,
            safe_table_name,
        )

        assert safe_table_name("Sales-Lead") == "document_sections_sales_lead"
        df = spark.createDataFrame(
            [("c1", 1, "invoice", "2026-01-01"), ("c1", 2, "sales-lead", "2026-01-01"),
             ("c2", 1, "invoice", "2026-01-02")],
            "conv_id string, section_id int, classification string, date string",
        )
        db = "idp_test_catalog"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        names = register_section_tables(df, database=db)
        assert names == [
            f"{db}.document_sections_invoice",
            f"{db}.document_sections_sales_lead",
        ]
        got = spark.sql(
            f"SELECT COUNT(*) n FROM {db}.document_sections_invoice WHERE date = '2026-01-02'"
        ).collect()[0]["n"]
        assert got == 1
        # date is a partition column in the catalog metadata
        cols = {r.name: r for r in spark.catalog.listColumns(f"{db}.document_sections_invoice")}
        assert cols["date"].isPartition
        spark.sql(f"DROP DATABASE {db} CASCADE")


class TestDeleteConversations:
    def test_delete_rewrites_only_affected_buckets(self, spark, tmp_path):
        """Deletion analog (delete_documents.py): targeted conversations
        vanish, everything else is untouched, re-delete is a no-op, and
        dry_run only reports."""
        from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
            generate_transcripts,
        )
        from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
            delete_conversations,
            read_manifest,
            run_checkpointed_extraction,
        )

        rows = generate_transcripts(30, seed=7)
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        out = str(tmp_path / "delout")
        run_checkpointed_extraction(spark, df, out, n_buckets=4, wave_size=4)
        ext = spark.read.parquet(f"{out}/extracted")
        total = ext.count()
        victims = [r["conv_id"] for r in ext.select("conv_id").distinct().limit(2).collect()]
        victim_rows = ext.where(F.col("conv_id").isin(victims)).count()
        survivor_before = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in ext.where(~F.col("conv_id").isin(victims)).collect()
        }

        # dry run changes nothing
        report = delete_conversations(spark, out, victims, dry_run=True)
        assert sum(report.values()) == victim_rows
        assert spark.read.parquet(f"{out}/extracted").count() == total

        report = delete_conversations(spark, out, victims)
        assert sum(report.values()) == victim_rows
        after = spark.read.parquet(f"{out}/extracted")
        assert after.count() == total - victim_rows
        assert after.where(F.col("conv_id").isin(victims)).count() == 0
        survivor_after = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"] for r in after.collect()
        }
        assert survivor_after == survivor_before  # untouched rows byte-identical
        # idempotent + audited
        assert delete_conversations(spark, out, victims) == {}
        assert read_manifest(out)["deletions"][0]["conv_ids"] == sorted(victims)


class TestBucketedJoin:
    def test_colocated_join_has_no_exchange(self, spark):
        """Two tables bucketed identically on conv_id must join without
        any shuffle: the physical plan contains a SortMergeJoin and ZERO
        Exchange nodes — the co-location contract the 100TB layout
        relies on."""
        from accelerated_intelligent_document_processing_on_aws_spark.sources.reporting import (
            write_bucketed_table,
        )

        rows = [(f"c{i % 37}", i, float(i % 7)) for i in range(2000)]
        a = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double")
        # conv-level dim (e.g. the per-conversation sections rollup),
        # bucketed the same way as the turns table
        b = (
            spark.createDataFrame(rows, "conv_id string, turn_idx int, w double")
            .groupBy("conv_id")
            .agg(F.sum("w").alias("w"))
        )
        db = "idp_test_bucketed"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        # the in-memory catalog drop does not remove a PREVIOUS session's
        # warehouse files; clear the location so saveAsTable can manage it
        import shutil

        warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        shutil.rmtree(os.path.join(warehouse, f"{db}.db"), ignore_errors=True)
        spark.sql(f"CREATE DATABASE {db}")
        write_bucketed_table(a, f"{db}.turns_a", ["conv_id"], 8, ["conv_id", "turn_idx"])
        write_bucketed_table(b, f"{db}.conv_dim", ["conv_id"], 8, ["conv_id"])
        ta = spark.table(f"{db}.turns_a")
        tb = spark.table(f"{db}.conv_dim")
        joined = ta.hint("merge").join(tb, ["conv_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert joined.count() == 2000
        spark.sql(f"DROP DATABASE {db} CASCADE")


class TestCompaction:
    def test_compact_preserves_data_and_shrinks_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from accelerated_intelligent_document_processing_on_aws_spark.sources.reporting import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "smallfiles")
        df = spark.range(0, 20000).withColumn("v", F.col("id") * 2)
        df.repartition(40).write.parquet(path)
        import os as _os
        before_files = [f for f in _os.listdir(path) if f.endswith(".parquet")]
        assert len(before_files) == 40
        before_sum = spark.read.parquet(path).agg(F.sum("v")).first()[0]

        stats = compact_parquet_dir(spark, path, target_bytes=10 * 1024 * 1024)
        assert stats["files_before"] == 40
        assert stats["files_after"] < 40
        got = spark.read.parquet(path)
        assert got.count() == 20000
        assert got.agg(F.sum("v")).first()[0] == before_sum
        # no leftover staging dirs
        assert not _os.path.exists(path + "._compact_tmp")
        assert not _os.path.exists(path + "._compact_old")

    def test_compact_noop_when_already_large(self, spark, tmp_path):
        from accelerated_intelligent_document_processing_on_aws_spark.sources.reporting import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "fine")
        spark.range(0, 100).coalesce(1).write.parquet(path)
        stats = compact_parquet_dir(spark, path)
        assert stats["files_before"] == stats["files_after"] == 1


class TestSortedExport:
    def test_total_order_across_files(self, spark, tmp_path):
        """write_sorted_export: every file internally sorted AND file
        ranges non-overlapping (total order without a global sort)."""
        import glob

        import pyarrow.parquet as pq

        from accelerated_intelligent_document_processing_on_aws_spark.sources.reporting import (
            write_sorted_export,
        )

        df = spark.range(0, 5000).select(
            (F.col("id") * 7919 % 5000).alias("k"), F.col("id").alias("v")
        )
        out = str(tmp_path / "sorted")
        write_sorted_export(df, out, ["k"], n_files=5)

        spans = []
        for f in glob.glob(out + "/part-*.parquet"):
            t = pq.read_table(f, columns=["k"])
            ks = t.column("k").to_pylist()
            if not ks:
                continue
            assert ks == sorted(ks), "file not internally sorted"
            spans.append((min(ks), max(ks)))
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, "file ranges overlap - no total order"
        total = sum(
            pq.read_table(f, columns=["k"]).num_rows
            for f in glob.glob(out + "/part-*.parquet")
        )
        assert total == 5000

    def test_schema_evolution_read(self, spark, tmp_path):
        """Added-column schema evolution: day-2 shards carry a new
        column; mergeSchema read presents the union schema with nulls
        for day-1 rows (the additive-evolution contract an Iceberg
        table gives for free, proven on the parquet fallback)."""
        base = str(tmp_path / "evo")
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("a").alias("x")
        ).write.parquet(base + "/day=1")
        spark.range(10, 20).select(
            F.col("id").alias("k"),
            F.lit("b").alias("x"),
            F.lit(1.5).alias("new_metric"),
        ).write.parquet(base + "/day=2")
        got = spark.read.option("mergeSchema", "true").parquet(
            base + "/day=1", base + "/day=2"
        )
        assert set(got.columns) == {"k", "x", "new_metric"}
        assert got.count() == 20
        assert got.where(F.col("new_metric").isNull()).count() == 10
