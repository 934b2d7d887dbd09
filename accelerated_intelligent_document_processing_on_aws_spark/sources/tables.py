"""Table IO.

The driver's TPC-H-ish fixtures live one-parquet-per-table under an
``sf_dir``; transcript corpora are single parquet files produced by
``fixtures.transcripts``.  In production these reads become Iceberg
table scans (``spark.read.format("iceberg").load(...)``) — the format
is a config switch, not an architecture change; Catalyst pushes filters
and prunes columns/partitions identically for both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: do NOT coalesce a single-row-group file's scan here.
    # coalesce(1) makes the scan SinglePartition, which satisfies any
    # clustered-distribution requirement, so Catalyst drops the
    # downstream exchange and runs the whole window/aggregate in one
    # task (measured: sections_bio_events 0.84 s → 2.49 s).
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition of an UNDER-partitioned input up to the
    session's default parallelism.

    Single-row-group parquet files are unsplittable below file level, so
    a small fixture table scans as 1-2 partitions no matter what
    ``spark.sql.files.maxPartitionBytes`` says — and any CPU-heavy work
    (signature kernels, pair-generating joins, HOF cosine math) chained
    onto that scan runs nearly serial (round-8 measurement: the sf1
    ``part`` self-join generated 80M candidate pairs inside ONE task).
    This helper is the scale-adaptive fix the optimization guide asks
    for (§2: derive partitioning from the input, don't pin constants):
    when the input already carries >= target partitions — the normal
    case for a real multi-file table at cluster scale — it is a NO-OP
    and adds no exchange; only a degenerate under-split scan pays one
    narrow shuffle to unlock the cores.  Round-robin ``repartition(n)``
    keeps AQE from re-coalescing (user-specified partition counts are
    preserved; only ENSURE_REQUIREMENTS shuffles coalesce)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for Spark SQL plans."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
