"""Scan partitioning: ``spread_scan`` and the kernel's tasks on a scan.

The session leaves Spark's file-split defaults alone (split size from
the input bytes over the core count, 4 MB open cost); ``spread_scan`` is
the one mechanism that spreads an under-split scan."""

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
    write_transcripts_parquet,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    extract_turns,
)
from accelerated_intelligent_document_processing_on_aws_spark.sources import tables
from accelerated_intelligent_document_processing_on_aws_spark.sources.tables import (
    _partitions_with_rows,
    spread_scan,
)


@pytest.fixture(scope="module")
def one_row_group(tmp_path_factory):
    p = tmp_path_factory.mktemp("scan") / "one_rg.parquet"
    n = write_transcripts_parquet(str(p), n_convs=20, seed=3, row_group_size=1 << 20)
    assert pq.ParquetFile(str(p)).metadata.num_row_groups == 1
    return str(p), n


@pytest.fixture(scope="module")
def many_row_groups(tmp_path_factory):
    """~12.6 MB of uncompressed, incompressible text in 24 row groups.

    Under a split floor of 3 splits per core with a 2 MB open cost this
    scans as 7 non-empty splits on 4 cores; Spark's defaults make at
    most one split per core."""
    rng = np.random.default_rng(5)
    n_rows, width = 3072, 4096
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    text = letters[rng.integers(0, len(letters), size=(n_rows, width))]
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            "conv_id": [f"c{i // 8:05d}" for i in range(n_rows)],
            "turn_idx": pa.array([i % 8 for i in range(n_rows)], pa.int32()),
            "role": ["user" if i % 2 else "assistant" for i in range(n_rows)],
            "text": [row.tobytes().decode() for row in text],
            "tool": pa.nulls(n_rows, pa.string()),
            "ts": pa.array([ts] * n_rows, pa.timestamp("us", tz="UTC")),
        }
    )
    p = tmp_path_factory.mktemp("scan") / "many_rg.parquet"
    pq.write_table(table, str(p), compression="none", row_group_size=n_rows // 24)
    return str(p), n_rows


def _random_text_table(n_rows: int, width: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    text = letters[rng.integers(0, len(letters), size=(n_rows, width))]
    return pa.table(
        {
            "id": pa.array(range(n_rows), pa.int64()),
            "text": [row.tobytes().decode() for row in text],
        }
    )


@pytest.fixture(scope="module")
def big_row_group(tmp_path_factory):
    """~16.8 MB of incompressible text in ONE row group: Spark's defaults
    split it one way per core, and only the split holding the row
    group's midpoint scans rows."""
    p = tmp_path_factory.mktemp("scan") / "big_rg.parquet"
    pq.write_table(_random_text_table(4096, 4096, 11), str(p), compression="none")
    assert pq.ParquetFile(str(p)).metadata.num_row_groups == 1
    return str(p), 4096


def test_single_row_group_spreads_to_default_parallelism(spark, one_row_group):
    path, n = one_row_group
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < target
    spread = spread_scan(df)
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == n


@pytest.mark.parametrize("per_core", [1, 2])
def test_partitioned_input_comes_back_unchanged(spark, per_core):
    n = spark.sparkContext.defaultParallelism * per_core
    df = spark.range(0, 1000, numPartitions=n)
    assert spread_scan(df) is df


def test_spread_scan_starts_no_job(spark, one_row_group):
    sc = spark.sparkContext
    under = spark.read.parquet(one_row_group[0])
    wide = spark.range(0, 1000, numPartitions=sc.defaultParallelism)
    group = "spread-scan-plan-time"
    sc.setJobGroup(group, "spread_scan at plan time")
    try:
        spread_scan(under)
        spread_scan(wide)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_unsalted_kernel_runs_at_most_one_task_per_core(
    spark, many_row_groups, kernel_tasks
):
    """``salt=0`` runs the kernel on the scan partitions, so the scan's
    split count is the number of Python tasks, each paying a fixed
    set-up (about 0.05 s of a core per kernel task on a reused worker).
    A multi-row-group file must not scan as more than one split per
    core."""
    path, n = many_row_groups
    rows = kernel_tasks(extract_turns(spark.read.parquet(path), salt=0)).collect()
    assert sum(r["rows_in"] for r in rows) == n
    tasks = {r["partition_id"] for r in rows}
    assert len(tasks) <= spark.sparkContext.defaultParallelism


def test_empty_splits_do_not_count(spark, big_row_group):
    path, n = big_row_group
    sc = spark.sparkContext
    target = sc.defaultParallelism
    df = spark.read.parquet(path).where("id >= 0").select("text")
    assert df.rdd.getNumPartitions() >= target
    assert sum(1 for k in df.rdd.glom().map(len).collect() if k) == 1
    group = "spread-scan-empty-splits"
    sc.setJobGroup(group, "spread_scan over empty splits")
    try:
        spread = spread_scan(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    sizes = spread.rdd.glom().map(len).collect()
    assert len(sizes) == target and all(sizes) and sum(sizes) == n


@pytest.mark.parametrize("name", ["one_row_group", "many_row_groups", "big_row_group"])
def test_partitions_with_rows_matches_the_reader(spark, name, request):
    """The midpoint rule counts exactly the scan partitions the parquet
    reader fills (the 24-row-group file leaves its last split empty)."""
    df = spark.read.parquet(request.getfixturevalue(name)[0])
    sizes = df.rdd.glom().map(len).collect()
    assert _partitions_with_rows(df, len(sizes)) == sum(1 for k in sizes if k)


def test_whole_file_splits_count_without_a_footer_read(spark, tmp_path, monkeypatch):
    """A split that covers its whole file counts as holding rows; only a
    file cut into several byte ranges has its footer read."""
    for i in range(6):
        write_transcripts_parquet(str(tmp_path / f"part-{i}.parquet"), n_convs=3, seed=i)
    df = spark.read.parquet(str(tmp_path))
    n = df.rdd.getNumPartitions()
    assert n > 1

    def refuse(uri):
        raise AssertionError(f"footer read for {uri}")

    monkeypatch.setattr(tables, "_row_group_midpoints", refuse)
    assert _partitions_with_rows(df, n) == n
