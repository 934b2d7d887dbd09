"""The benchmark's workloads: one timed pass each, its output checks,
and the layer probes of a traced run.

Every pass calls the engine only through its public functions.  Passes
write to a fresh directory, so no pass resumes another's output.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from accelerated_intelligent_document_processing_on_aws_spark.kernel.oracle import (
    extract_turn,
    extract_turn_raw,
    sniff_payload_kind,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators import dedup
from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
    read_manifest,
    resume_pending,
    run_checkpointed_extraction,
)
from pyspark.sql import functions as F

# scripts/extract_job.py defaults
BUCKETS, WAVE_SIZE, SALT = 16, 16, 16
# crash/resume: two waves of 8 of the 16 buckets, crash after the first,
# so the resume has 8 buckets left
RESUME_WAVE_SIZE, FAIL_AFTER = 8, 1
ORACLE_SAMPLE = 64
KERNEL_SAMPLE = 3000
CHAIN_STAGES = ("lsh_pairs", "clusters", "keep_representative", "leakage_gate")
# the traced run's curation-chain probe reads a small corpus of the
# workload's own kind and seed; the chain's time is mostly per-job cost,
# so a small corpus keeps the probe short without changing what
# dominates it
CHAIN_TURNS = 6_000


def output_bytes(out: str) -> int:
    """Parquet bytes of an extraction output: extracted rows plus lineage."""
    total = 0
    for sub in ("extracted", "lineage"):
        for dirpath, _, files in os.walk(os.path.join(out, sub)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def read_rows(path: str, columns: list[str], idx: list[int]) -> dict[str, list]:
    """The rows ``idx`` of a parquet file, in that order."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).take(idx).to_pydict()


OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "payload_kind", "extracted_text", "spans",
    "classification", "boundary", "confidence",
]


def output_checksum(spark, out: str) -> tuple[int, int, int]:
    """(rows, distinct (conv_id, turn_idx), order-independent xor of
    per-row xxhash64) of an extracted table; equal outputs give equal
    checksums whatever their layout."""
    row = (
        spark.read.parquet(out + "/extracted")
        .agg(F.count(F.lit(1)), F.count_distinct("conv_id", "turn_idx"), F.bit_xor(F.xxhash64(*OUTPUT_COLUMNS)))
        .first()
    )
    return int(row[0]), int(row[1]), int(row[2])


def crash_and_resume(spark, spans, src, out: str) -> dict:
    """A checkpointed extraction that crashes after ``FAIL_AFTER`` waves,
    then the resume that finishes it."""
    kw = dict(n_buckets=BUCKETS, wave_size=RESUME_WAVE_SIZE, salt=SALT)
    with spans.span("sources.checkpoint.crash_run"):
        try:
            run_checkpointed_extraction(spark, src, out, fail_after_waves=FAIL_AFTER, **kw)
        except RuntimeError as e:
            if "injected crash" not in str(e):
                raise
        else:
            raise AssertionError("the injected crash did not fire")
    pending = resume_pending(out, BUCKETS)
    done_before = set(read_manifest(out)["done_buckets"])
    with spans.span("sources.checkpoint.resume"):
        run_checkpointed_extraction(spark, src, out, **kw)
    resumed = sorted(set(read_manifest(out)["done_buckets"]) - done_before)
    return {"out": out, "pending": pending, "resumed": resumed}


def resume_checks(rec: dict) -> list[tuple[str, bool]]:
    return [
        ("buckets_resumed_equal_resume_pending", rec["resumed"] == rec["pending"]),
        ("crash_left_half_the_buckets", len(rec["pending"]) == BUCKETS - FAIL_AFTER * RESUME_WAVE_SIZE),
    ]


def run_chain(spark, spans, input_path: str, out: str) -> dict:
    """bench.py's four-stage curation chain, one span per stage."""
    docs = spark.read.parquet(input_path).select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        "text",
    )
    pairs_path = out + "/pairs"
    res: dict = {}
    with spans.span("dedup.lsh_pairs"):
        dedup.minhash_lsh_pairs(docs).write.mode("overwrite").parquet(pairs_path)
        pairs = spark.read.parquet(pairs_path)
        res["pairs"] = pairs.count()
    with spans.span("dedup.clusters"):
        clusters = dedup.duplicate_clusters(pairs)
        res["clusters"] = clusters.select("cluster_id").distinct().count()
    with spans.span("dedup.keep_representative"):
        res["kept"] = dedup.dedup_keep_representative(docs, pairs).count()
    with spans.span("dedup.leakage_gate"):
        split = F.conv(F.substring(F.md5(F.col("doc_id")), 1, 4), 16, 10).cast("bigint") % 10
        res["leaky"] = (
            docs.select(
                F.md5(F.col("text")).alias("content_hash"),
                F.when(split < 8, "train").when(split < 9, "valid").otherwise("test").alias("split"),
            )
            .groupBy("content_hash")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
            .count()
        )
    # kept + removed must cover every document, where removed is the
    # clustered documents minus one keeper per cluster
    clustered = pairs.select(F.col("id_a").alias("id")).union(pairs.select("id_b")).distinct().count()
    res["kept_plus_removed"] = res["kept"] + clustered - res["clusters"]
    return res


class Workload:
    """One workload on one seeded input.  ``run_pass`` is the timed unit;
    everything else runs outside the timed passes."""

    name = ""
    corpus = ""  # inputs.CORPORA key
    turns = 0
    # span paths of one timed pass; the Python-boundary and exchange
    # layer metrics read the event-log tasks under these
    main_spans: tuple[str, ...] = ()

    def __init__(self, inp: dict, seed: int, work_dir: str, chain_input: dict | None = None):
        self.input, self.rows = inp["path"], inp["rows"]
        self.seed, self.work = seed, work_dir
        self.chain_input = chain_input
        shutil.rmtree(work_dir, ignore_errors=True)
        os.makedirs(work_dir)

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, tag)

    def drop(self, tag: str) -> None:
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)

    def warm_up(self, spark, spans) -> None:
        """One untimed pass.  A cold session's first pass costs about 10 s
        more than a warm one (Python worker start, code generation, JIT),
        whatever the input size; a full pass also leaves the JIT warmer
        for the timed passes than a pass over a slice would."""
        self.run_pass(spark, spans, "warm")
        self.drop("warm")

    def run_pass(self, spark, spans, tag: str) -> dict:
        raise NotImplementedError

    def checks(self, spark, passes: list[dict]) -> list[tuple[str, bool]]:
        """Checks every extraction output passes, on the last pass."""
        import pyarrow.dataset as ds

        out = passes[-1]["out"]
        rows_in = spark.read.parquet(out + "/lineage").agg(F.sum("rows_in")).first()[0]
        first, last = (output_checksum(spark, p["out"]) for p in (passes[0], passes[-1]))
        results = [
            ("row_count_equals_input", last[0] == self.rows),
            ("conv_turn_unique", last[1] == last[0]),
            ("lineage_rows_in_equals_input", rows_in == self.rows),
            ("first_and_last_pass_identical", first == last),
        ]
        idx = random.Random(self.seed + 1).sample(range(self.rows), ORACLE_SAMPLE)
        cols = read_rows(self.input, ["conv_id", "turn_idx", "text", "role", "tool"], idx)
        keys = list(zip(cols["conv_id"], cols["turn_idx"]))
        ext = ds.dataset(out + "/extracted", format="parquet", partitioning="hive").to_table(
            columns=OUTPUT_COLUMNS, filter=ds.field("conv_id").isin(sorted({k[0] for k in keys}))
        )
        got = {(r["conv_id"], r["turn_idx"]): r for r in ext.to_pylist()}
        for i, key in enumerate(keys):
            want = extract_turn(cols["text"][i], cols["role"][i], cols["tool"][i])
            row = got.get(key)
            ok = row is not None and all(row[k] == want[k] for k in OUTPUT_COLUMNS[2:])
            results.append((f"oracle:{key[0]}#{key[1]}", ok))
        return results

    # -- layer probes (traced run only) ---------------------------------
    def kernel_probe(self) -> dict:
        """Direct single-core loop over ``extract_turn_raw`` on a seeded
        sample of this workload's turns, split by payload kind, and the
        batch sighash kernel over the same texts."""
        import pyarrow as pa

        from accelerated_intelligent_document_processing_on_aws_spark.kernel import sighash

        idx = random.Random(self.seed).sample(range(self.rows), min(KERNEL_SAMPLE, self.rows))
        cols = read_rows(self.input, ["text", "role", "tool"], idx)
        sample = list(zip(cols["text"], cols["role"], cols["tool"]))
        per_kind: dict[str, list[float]] = {"html": [], "layout": [], "plain": []}
        for text, role, tool in sample:
            t0 = time.perf_counter()
            extract_turn_raw(text, role, tool)
            per_kind[sniff_payload_kind(text or "")].append(time.perf_counter() - t0)
        out = {"kernel.turns_per_s_1core": len(sample) / sum(sum(v) for v in per_kind.values())}
        for kind, times in per_kind.items():
            out[f"kernel.{kind}_us_per_turn"] = 1e6 * statistics.mean(times) if times else 0.0
        texts = pa.array([s[0] for s in sample], pa.string())
        A, B = sighash.remix_params(32, 1)
        sighash.minhash_bands_batch(texts, 3, A, B, 8, want_shingles=True)  # first call: imports
        reps = 3
        t0 = time.perf_counter()
        for _ in range(reps):
            sighash.minhash_bands_batch(texts, 3, A, B, 8, want_shingles=True)
        out["kernel.sighash_docs_per_s_1core"] = reps * len(sample) / (time.perf_counter() - t0)
        return out

    def layer_probes(self, spark, spans, passes: list[dict]) -> dict:
        """Scan, checkpoint and dedup probes.  Returns layer values and,
        under ``_checks``, the checks the probes add."""
        df = spark.read.parquet(self.input).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        with spans.span("sources.scan"):
            df.write.mode("overwrite").format("noop").save()
        out = self.checkpoint_probe(spark, spans, passes)
        # one chain pass in a session warmed by extraction only, so its
        # stage times include the chain's cold start
        with spans.span("probe"):
            chain = run_chain(spark, spans, self.chain_input["path"], self.out_dir("probe_chain"))
        out["dedup"] = chain
        out["_checks"].append(
            ("chain_kept_plus_removed_equals_turns", chain["kept_plus_removed"] == self.chain_input["rows"])
        )
        return out

    def checkpoint_probe(self, spark, spans, passes: list[dict]) -> dict:
        raise NotImplementedError


class ExtractBatch(Workload):
    """Checkpointed extraction of a row-shuffled Zipf corpus with the
    extraction job's defaults."""

    name = "extract_batch"
    corpus = "transcripts"
    # per-turn work is about 30 us and a pass's fixed cost 3-4 s on a
    # 4-vCPU VM, so per-turn work is about half of a 96k-turn pass, as
    # much as the run budget holds (README, "Sizing")
    turns = 96_000
    main_spans = ("extract",)

    def run_pass(self, spark, spans, tag: str) -> dict:
        out = self.out_dir(tag)
        with spans.span("extract"):
            src = spark.read.parquet(self.input)
            run_checkpointed_extraction(spark, src, out, n_buckets=BUCKETS, wave_size=WAVE_SIZE, salt=SALT)
        return {"out": out, "out_bytes": output_bytes(out)}

    def checkpoint_probe(self, spark, spans, passes: list[dict]) -> dict:
        """Crash and resume this corpus; the result must equal the timed
        passes' uninterrupted output."""
        rec = crash_and_resume(spark, spans, spark.read.parquet(self.input), self.out_dir("probe_crash"))
        same = output_checksum(spark, rec["out"]) == output_checksum(spark, passes[-1]["out"])
        return {
            "buckets_resumed": len(rec["resumed"]),
            "checkpoint_write_mb": output_bytes(rec["out"]) / 1e6,
            "_checks": resume_checks(rec) + [("resumed_equals_uninterrupted", same)],
        }


class ResumeHotConv(Workload):
    """A checkpointed extraction that crashes after the first of two waves
    and is resumed, on a conv_id-sorted file whose one conversation of
    short tool and plain turns holds half the turns."""

    name = "resume_hotconv"
    corpus = "hotconv"
    # a pass is two waves, so two waves' fixed cost: by design, most of it
    turns = 48_000
    main_spans = ("sources.checkpoint.crash_run", "sources.checkpoint.resume")

    def warm_up(self, spark, spans) -> None:
        """An uninterrupted run of the same extraction: it warms the
        session and is the reference the resumed outputs must equal."""
        self.drop("reference")
        run_checkpointed_extraction(
            spark, spark.read.parquet(self.input), self.out_dir("reference"),
            n_buckets=BUCKETS, wave_size=RESUME_WAVE_SIZE, salt=SALT,
        )

    def run_pass(self, spark, spans, tag: str) -> dict:
        rec = crash_and_resume(spark, spans, spark.read.parquet(self.input), self.out_dir(tag))
        rec["out_bytes"] = output_bytes(rec["out"])
        return rec

    def checks(self, spark, passes: list[dict]) -> list[tuple[str, bool]]:
        reference = output_checksum(spark, self.out_dir("reference"))
        results = super().checks(spark, passes)
        results.append(("resumed_equals_uninterrupted", output_checksum(spark, passes[-1]["out"]) == reference))
        for i, rec in enumerate(passes):
            results += [(f"pass{i}:{name}", ok) for name, ok in resume_checks(rec)]
        return results

    def checkpoint_probe(self, spark, spans, passes: list[dict]) -> dict:
        # the timed passes are the crash and resume
        return {
            "buckets_resumed": len(passes[-1]["resumed"]),
            "checkpoint_write_mb": passes[-1]["out_bytes"] / 1e6,
            "_checks": [],
        }


WORKLOADS = {w.name: w for w in (ExtractBatch, ResumeHotConv)}
