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
    preserved; only ENSURE_REQUIREMENTS shuffles coalesce).

    Partitions are counted by :func:`_partitions_with_rows`: a byte
    split past a file's last row group scans nothing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _partitions_with_rows(df, target) >= target:
        return df
    return df.repartition(target)


def _partitions_with_rows(df: DataFrame, target: int) -> int:
    """Partitions of ``df`` that hold rows, counted up to ``target``.

    When ``df`` is a chain of single-child, exchange-free operators over
    one parquet scan, a partition counts only if one of its byte splits
    can hold rows.  A split that covers its whole file counts without
    further ado.  Only a file cut into several byte ranges can leave a
    split empty: the parquet reader gives each row group to the split
    holding its midpoint (first page offset plus half its compressed
    size), so a 16 MB single-row-group file splits four ways on four
    cores and three splits scan nothing.  For such files the footer is
    read on the driver, once per file and only until ``target``
    partitions are found; no Spark job runs.  Any other plan, or a
    footer that cannot be read, counts every partition."""
    n = df.rdd.getNumPartitions()
    plan = df._jdf.queryExecution().executedPlan()
    while plan.getClass().getSimpleName() != "FileSourceScanExec":
        children = plan.children()
        if children.size() != 1 or "Exchange" in plan.getClass().getSimpleName():
            return n
        plan = children.apply(0)
    parts = plan.inputRDD().partitions()
    if plan.relation().fileFormat().shortName() != "parquet" or len(parts) != n:
        return n
    mids: dict[str, list[int]] = {}
    held = 0
    try:
        for part in parts:
            for f in part.files():
                if f.start() == 0 and f.length() == f.fileSize():
                    held += 1
                    break
                uri = f.filePath().toString()
                if uri not in mids:
                    mids[uri] = _row_group_midpoints(uri)
                lo = f.start()
                if any(lo <= m < lo + f.length() for m in mids[uri]):
                    held += 1
                    break
            if held >= target:
                break
    except (OSError, ValueError):
        return n
    return held


def _row_group_midpoints(uri: str) -> list[int]:
    import pyarrow.fs as pafs  # driver only: keeps worker imports light
    import pyarrow.parquet as pq

    fs, path = pafs.FileSystem.from_uri(uri)
    with fs.open_input_file(path) as fh:
        md = pq.read_metadata(fh)
    mids = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        first = rg.column(0)
        start = first.data_page_offset
        if first.has_dictionary_page and first.dictionary_page_offset < start:
            start = first.dictionary_page_offset
        size = sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
        mids.append(start + size // 2)
    return mids
