#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Usage (the production invocation shape):

  spark-submit --master local[8] --py-files engine.zip \\
      scripts/extract_job.py --input /path/transcripts.parquet \\
      --output /path/out --buckets 16

Reads the transcript table, runs the checkpointed extraction (bucket
waves, manifest resume), writes the extracted + lineage tables, and
prints one JSON line with the throughput — consumed by
scripts/scaling_bench.py to evidence N-vs-4N scaling efficiency.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="jsonl = raw agent-log shards via the "
                         "transcript_jsonl Python data source (one task "
                         "per shard); parquet = the hot path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--wave-size", type=int, default=16)
    ap.add_argument("--salt", type=int, default=16,
                    help="0 = zero-shuffle fast path (kernel on scan "
                         "partitions; for byte-balanced input layouts); "
                         ">0 = salted conv-hash repartition (skew defusal "
                         "for conv-clustered inputs)")
    ap.add_argument("--versioned", action="store_true",
                    help="Iceberg-style versioned data layout: every "
                         "wave/delete commit writes NEW immutable "
                         "data/v=<sid>/ directories; snapshots stay "
                         "readable (read_snapshot) until expired")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
        extract_turns,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
        read_snapshot,
        run_checkpointed_extraction,
        run_versioned_extraction,
    )

    if args.input_format == "jsonl":
        from accelerated_intelligent_document_processing_on_aws_spark.sources import (
            jsonl_source,
        )

        jsonl_source.register(spark)
        transcripts = spark.read.format("transcript_jsonl").load(args.input)
    else:
        transcripts = spark.read.parquet(args.input)
    n_turns = transcripts.count()

    if not args.no_warmup:
        # Warm python workers, Arrow serializers, and codegen on a small
        # slice so the timed run measures steady-state throughput (a real
        # job amortizes this startup over hours of input).
        extract_turns(transcripts.limit(20000), salt=args.salt).count()

    t0 = time.perf_counter()
    if args.versioned:
        run_versioned_extraction(
            spark,
            transcripts,
            args.output,
            n_buckets=args.buckets,
            wave_size=args.wave_size,
            salt=args.salt,
        )
        n_out = read_snapshot(spark, args.output).count()
    else:
        run_checkpointed_extraction(
            spark,
            transcripts,
            args.output,
            n_buckets=args.buckets,
            wave_size=args.wave_size,
            salt=args.salt,
        )
        n_out = spark.read.parquet(args.output + "/extracted").count()
    wall = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "turns_in": n_turns,
                "turns_out": n_out,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n_turns / wall, 1),
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
