"""Spark pipeline vs pure-Python oracle — the north-rule invariant:
per-turn text equality under stable turn ordering (SURVEY.md §5(b,c))."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
    generate_transcripts,
)
from accelerated_intelligent_document_processing_on_aws_spark.kernel.oracle import (
    extract_turn,
    sections_oracle,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    EXTRACTED_SCHEMA,
    KERNEL_COLUMNS,
    _kernel_batches_arrow,
    alerts,
    extract_turns,
    extract_turns_skew_aware,
    extract_wave,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators import (
    segmentation as seg,
)
from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
    bucket_col,
)
from accelerated_intelligent_document_processing_on_aws_spark.streaming import (
    extracted_stream,
)


@pytest.fixture(scope="module")
def extracted(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    out = extract_turns(df, num_partitions=16, salt=8)
    out.cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def golden():
    rows = generate_transcripts(200, seed=42)
    return {
        (r["conv_id"], r["turn_idx"]): extract_turn(r["text"], r["role"], r["tool"])
        for r in rows
    }


class TestByteEquality:
    def test_per_turn_text_equality(self, extracted, golden):
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in extracted.select(
                "conv_id", "turn_idx", "extracted_text", "classification",
                "boundary", "confidence", "payload_kind",
            ).collect()
        }
        assert len(got) == len(golden)
        mismatches = [
            k
            for k, g in golden.items()
            if got[k]["extracted_text"] != g["extracted_text"]
        ]
        assert not mismatches, f"{len(mismatches)} text mismatches, e.g. {mismatches[:3]}"
        for k, g in golden.items():
            r = got[k]
            assert r["classification"] == g["classification"], k
            assert r["boundary"] == g["boundary"], k
            assert r["confidence"] == pytest.approx(g["confidence"], abs=1e-9), k
            assert r["payload_kind"] == g["payload_kind"], k

    def test_spans_exact(self, extracted, golden):
        got = {
            (r["conv_id"], r["turn_idx"]): r["spans"]
            for r in extracted.select("conv_id", "turn_idx", "spans").collect()
        }
        for k, g in golden.items():
            spans = [
                {"start": s["start"], "end": s["end"], "kind": s["kind"],
                 "conf": round(s["conf"], 4)}
                for s in got[k]
            ]
            assert spans == g["spans"], k

    def test_partitioning_invariance(self, spark, transcripts_path, extracted):
        """Different partition count + salt → identical result set."""
        df = spark.read.parquet(transcripts_path)
        other = extract_turns(df, num_partitions=3, salt=1)
        a = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in other.select("conv_id", "turn_idx", "extracted_text").collect()
        }
        b = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extracted.select("conv_id", "turn_idx", "extracted_text").collect()
        }
        assert a == b
        # salt=0 (zero-shuffle fast path, kernel on scan partitions)
        # must also be byte-identical
        c = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extract_turns(df, salt=0)
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        }
        assert c == b
        # skew-aware hybrid (only heavy conversations shuffle) must be
        # row-identical too; tiny threshold forces BOTH branches to
        # carry rows
        d = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extract_turns_skew_aware(df, num_partitions=4, heavy_turns=20)
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        }
        assert d == b


KERNEL_CALLS = {
    "salted": lambda df: extract_turns(df, salt=8),
    "unsalted": lambda df: extract_turns(df, salt=0),
    "skew_aware": lambda df: extract_turns_skew_aware(df, heavy_turns=20),
    "stream_on_batch": extracted_stream,
    "wave": lambda df: extract_wave(df.withColumn("bucket", bucket_col(4)))[0],
}


@pytest.mark.parametrize("call", sorted(KERNEL_CALLS))
def test_one_kernel_output_schema(spark, transcripts_path, call):
    """Every kernel call returns :data:`EXTRACTED_SCHEMA`; a checkpoint
    wave appends its ``bucket``.  No internal column reaches a caller."""
    schema = KERNEL_CALLS[call](spark.read.parquet(transcripts_path)).schema
    want = EXTRACTED_SCHEMA.fields
    if call == "wave":
        want = want + [T.StructField("bucket", T.IntegerType())]
    assert schema == T.StructType(want)
    assert not [f.name for f in schema.fields if f.name.startswith("_")]


def test_kernel_task_drops_spark_zip_importers(spark, tmp_path):
    """A kernel task drops the cached zip importers over the archives on
    the worker's start-up ``PYTHONPATH`` (Spark's own python path), so
    pyspark's per-task ``importlib.invalidate_caches()`` stops re-reading
    them.  An importer of an archive off that path, as a job's py-files
    are, stays."""
    import zipfile

    own_zip = str(tmp_path / "own.zip")
    with zipfile.ZipFile(own_zip, "w") as z:
        z.writestr("own_mod.py", "")

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        sys.path_importer_cache[own_zip] = zipimport.zipimporter(own_zip)
        for _ in _kernel_batches_arrow(batches):
            pass
        left = sorted(
            {f.archive for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter)}
        )
        yield pa.RecordBatch.from_pylist(
            [{"pythonpath": os.environ.get("PYTHONPATH", ""), "archives": left}]
        )

    turns = spark.createDataFrame(generate_transcripts(4, seed=3)).select(*KERNEL_COLUMNS)
    rows = turns.repartition(2).mapInArrow(
        probe, "pythonpath string, archives array<string>"
    ).collect()
    assert rows
    for r in rows:
        spark_path = set(r["pythonpath"].split(os.pathsep))
        assert not spark_path & set(r["archives"]), r["archives"]
        assert own_zip in r["archives"]


class TestLineage:
    def test_lineage_accounts_for_every_row(self, extracted, kernel_tasks):
        lin = kernel_tasks(extracted).collect()
        assert sum(r["rows_in"] for r in lin) == extracted.count()
        assert all(r["rows_out"] == r["rows_in"] for r in lin)
        pids = [r["partition_id"] for r in lin]
        assert len(pids) == len(set(pids))

    def test_alerts_below_threshold_only(self, extracted):
        a = alerts(extracted, threshold=0.9)
        assert a.where(F.col("confidence") >= 0.9).count() == 0
        total_low = extracted.where(F.col("confidence") < 0.9).count()
        assert a.count() == total_low


class TestSegmentation:
    def test_bio_sections_match_oracle(self, extracted, golden):
        got = {
            (r["conv_id"], r["section_id"]): (r["classification"], list(r["turn_idxs"]))
            for r in seg.sections(extracted, "llm_determined").collect()
        }
        # Build oracle sections per conversation.
        per_conv: dict[str, list[dict]] = {}
        for (conv_id, turn_idx), g in golden.items():
            per_conv.setdefault(conv_id, []).append(
                {
                    "turn_idx": turn_idx,
                    "classification": g["classification"],
                    "boundary": g["boundary"],
                }
            )
        want = {}
        for conv_id, turns in per_conv.items():
            for s in sections_oracle(turns):
                want[(conv_id, s["section_id"])] = (s["classification"], s["turn_idxs"])
        assert got == want

    def test_page_strategy(self, extracted):
        s = seg.sections(extracted, "page")
        assert s.where(F.col("n_turns") != 1).count() == 0
        one = s.where(F.col("conv_id") == "conv-00000000").orderBy("section_id").collect()
        assert [r["section_id"] for r in one] == list(range(1, len(one) + 1))

    def test_disabled_majority_vote(self, extracted):
        s = seg.sections(extracted, "disabled")
        assert s.groupBy("conv_id").count().where(F.col("count") > 1).count() == 0
        # cross-check one conversation by hand
        rows = (
            extracted.where(F.col("conv_id") == "conv-00000001")
            .select("turn_idx", "classification")
            .collect()
        )
        from collections import Counter

        valid = [r for r in rows if r["classification"] != "unclassified"]
        if valid:
            counts = Counter(r["classification"] for r in valid)
            top = max(counts.values())
            firsts = {
                c: min(r["turn_idx"] for r in valid if r["classification"] == c)
                for c in counts
            }
            want = sorted(
                [c for c in counts if counts[c] == top], key=lambda c: (firsts[c], c)
            )[0]
            got = s.where(F.col("conv_id") == "conv-00000001").collect()[0]["classification"]
            assert got == want

    def test_normalized_indices(self, extracted):
        n = seg.normalized_indices(extracted)
        bad = n.groupBy("conv_id").agg(F.min("turn_index0").alias("m")).where(
            F.col("m") != 0
        )
        assert bad.count() == 0

    def test_context_windows(self, extracted):
        c = seg.context_windows(extracted, k=2).where(
            F.col("conv_id") == "conv-00000000"
        ).orderBy("turn_idx").collect()
        if len(c) >= 3:
            assert c[0]["context_before"] == []
            assert c[2]["context_before"][-1] == c[1]["extracted_text"]
            assert c[0]["context_after"][0] == c[1]["extracted_text"]

    def test_expand_segment_ranges(self, spark, extracted):
        segs = spark.createDataFrame(
            [("conv-00000000", 1, 0, 1, "invoice")],
            "conv_id string, section_id int, start_idx int, end_idx int, classification string",
        )
        turns = extracted.select("conv_id", "turn_idx").where(
            F.col("conv_id") == "conv-00000000"
        )
        out = seg.expand_segment_ranges(segs, turns).collect()
        assert {r["turn_idx"] for r in out} <= {0, 1}

    def test_section_text_order(self, spark):
        df = spark.createDataFrame(
            [
                ("c1", 2, 1, "third"),
                ("c1", 0, 1, "first"),
                ("c1", 1, 1, "second"),
            ],
            "conv_id string, turn_idx int, section_id int, extracted_text string",
        )
        out = seg.section_text(df).collect()[0]["section_text"]
        assert out == "first\nsecond\nthird"


class TestSkewDefusal:
    def test_salt_splits_giant_conversation(self, spark, kernel_tasks):
        """One pathological 3000-turn conversation must spread across
        kernel tasks instead of hot-spotting one partition (the north
        rule's salting requirement)."""
        from datetime import datetime, timezone

        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
        rows = [("conv-giant", i, "user", f"plain text turn {i} with enough words", None, ts)
                for i in range(3000)]
        rows += [(f"conv-small-{j}", i, "user", f"tiny {j} {i}", None, ts)
                 for j in range(50) for i in range(3)]
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        ext = extract_turns(df, num_partitions=16, salt=16)
        lin = kernel_tasks(ext).collect()
        sizes = sorted((r["rows_out"] for r in lin), reverse=True)
        total = sum(sizes)
        assert total == 3150
        # without salting the giant conv (95% of rows) would land in ONE
        # partition; with salt=16 no partition may hold more than ~1/4
        assert sizes[0] < total / 4, sizes[:5]

    def test_salt_one_keeps_conv_together(self, spark, kernel_tasks):
        """salt=1 degenerates to pure conv-hash partitioning (control)."""
        from datetime import datetime, timezone

        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
        rows = [("conv-giant", i, "user", f"words {i}", None, ts) for i in range(500)]
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        lin = kernel_tasks(extract_turns(df, num_partitions=8, salt=1)).collect()
        assert max(r["rows_out"] for r in lin) == 500
