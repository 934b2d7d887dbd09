"""Reporting sinks: date-partitioned parquet tables.

Mirrors the reference's reporting layer
(``lib/idp_common_pkg/idp_common/reporting/save_reporting_data.py``):
snappy parquet (``:83-117``), ``date=YYYY-MM-DD`` partition layout
(``:402-413,736,820``), per-class section tables (``:1179,1349-1354``),
and the metering table schema (``:1084-1097``) with the pricing-join
cost model (``:841-1067``; ``config_library/pricing.yaml:25-43``).

On a cluster these become Iceberg ``partitionBy(days(ts))`` appends;
partition pruning then serves the date-filtered analytics queries
(§2.E) without full scans.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_date(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn("date", F.date_format(F.col(ts_col), "yyyy-MM-dd"))


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts",
                           mode: str = "append") -> None:
    (
        with_date(df, ts_col)
        .write.mode(mode)
        .option("compression", "snappy")
        .partitionBy("date")
        .parquet(path)
    )


def write_section_tables(sections_with_date: DataFrame, base_path: str) -> None:
    """Per-class section tables: ``{base}/document_sections_{class}/date=...``
    — one table per classification, like the reference's per-type Glue
    tables (``save_reporting_data.py:359-415``).  Single pass: partition
    by (classification, date); each classification directory IS the
    per-class table."""
    (
        sections_with_date.write.mode("append")
        .option("compression", "snappy")
        .partitionBy("classification", "date")
        .parquet(base_path)
    )


def safe_table_name(section_type: str) -> str:
    """Table-name escaping identical to the reference's Glue path
    (``save_reporting_data.py:382-384``): ``document_sections_`` prefix,
    unsafe characters (including '-') replaced with '_'."""
    return "document_sections_" + re.sub(r"[/\\:*?\"<>|-]", "_", section_type.lower())


def register_section_tables(
    sections_with_date: DataFrame, database: str = "idp_reporting"
) -> list[str]:
    """Catalog registration — the Spark-native analog of the reference's
    Glue table create/update (``save_reporting_data.py:359-415``): each
    section type becomes a named catalog table partitioned by ``date``,
    queryable as ``SELECT ... FROM {db}.document_sections_{type}`` —
    what partition projection buys the reference, the catalog's
    partition metadata buys Spark (date filters prune to partitions).

    On a warehouse cluster the same call lands in Glue/Hive/Iceberg by
    pointing ``spark.sql.catalog``/warehouse config there; the logical
    operation (name escaping, per-type table, date partition key) is
    identical.  The ``distinct()`` collect is bounded by the class
    config (a handful of document types), never corpus-sized."""
    spark = sections_with_date.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    types = [
        r[0] for r in sections_with_date.select("classification").distinct().collect()
    ]
    names = []
    for t in sorted(types):
        table = f"{database}.{safe_table_name(t)}"
        (
            sections_with_date.where(F.col("classification") == t)
            .write.mode("append")
            .format("parquet")
            .option("compression", "snappy")
            .partitionBy("date")
            .saveAsTable(table)
        )
        names.append(table)
    return names


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table bucketed (and optionally sorted) on the join
    key — the 100 TB lever for repeated conv-keyed work: two tables
    bucketed the same way join with NO Exchange (Spark reads bucket i of
    each side into the same task), and ``sortBy`` additionally removes
    the sort under SortMergeJoin.  At warehouse scale this is how the
    extracted/sections/evaluation tables co-locate so every downstream
    per-conversation join or window is shuffle-free."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def metering_table(extracted: DataFrame) -> DataFrame:
    """Long-format metering rows per turn: (conv_id, context, unit,
    value, ts) — the exploded analog of ``merge_metering_data``'s nested
    dict (``utils/__init__.py:88-130``).  Units mirror the reference's
    token/page accounting."""
    base = extracted.select(
        "conv_id",
        "ts",
        F.col("payload_kind").alias("context"),
        F.length("extracted_text").cast("double").alias("chars_out"),
        F.size("spans").cast("double").alias("spans_out"),
    )
    return base.select(
        "conv_id", "ts", "context", F.lit("charsExtracted").alias("unit"),
        F.col("chars_out").alias("value"),
    ).unionByName(
        base.select(
            "conv_id", "ts", "context", F.lit("spansExtracted").alias("unit"),
            F.col("spans_out").alias("value"),
        )
    )


def merge_metering(metering: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Numeric sum-merge of metering rows (``utils/__init__.py:88-130``):
    the nested-dict merge is just a groupBy-sum in long format."""
    keys = keys or ["context", "unit"]
    return metering.groupBy(*keys).agg(F.round(F.sum("value"), 6).alias("value"))


def default_pricing(spark: SparkSession) -> DataFrame:
    """Tiny pricing dimension (broadcast side of the cost join) —
    schema per ``config_library/pricing.yaml:25-43``."""
    rows = [
        ("html", "charsExtracted", 1.5e-6),
        ("html", "spansExtracted", 4.0e-4),
        ("layout", "charsExtracted", 1.0e-6),
        ("layout", "spansExtracted", 4.0e-4),
        ("plain", "charsExtracted", 5.0e-7),
        ("plain", "spansExtracted", 1.0e-4),
    ]
    return spark.createDataFrame(rows, "context string, unit string, unit_cost double")


def with_cost(metering: DataFrame, pricing: DataFrame) -> DataFrame:
    """``estimated_cost = value × unit_cost`` via broadcast join against
    the pricing dim (``save_reporting_data.py:841-1067,1160-1172``);
    unmatched rows cost 0 (the reference's fuzzy-fallback default)."""
    p = F.broadcast(pricing)
    return (
        metering.join(p, ["context", "unit"], "left")
        .withColumn(
            "estimated_cost",
            F.round(F.col("value") * F.coalesce(F.col("unit_cost"), F.lit(0.0)), 8),
        )
        .drop("unit_cost")
    )


def overwrite_date_partitions(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Idempotent re-run semantics for a reporting table: replace ONLY
    the date partitions present in ``df`` (dynamic partition overwrite),
    leaving other dates untouched — the parquet analog of an Iceberg
    ``overwritePartitions`` and the reference's day-scoped re-saves."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            with_date(df, ts_col)
            .write.mode("overwrite")
            .option("compression", "snappy")
            .partitionBy("date")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def coalesce_rewrite(
    spark: SparkSession,
    path: str,
    dest: str,
    target_bytes: int,
    min_files: int = 2,
) -> tuple[int, int, int]:
    """Rewrite the parquet files directly under ``path`` into
    ``ceil(total_bytes / target_bytes)`` files at ``dest`` via
    ``coalesce`` (no shuffle — coalesce only merges read splits).
    Nothing is written when ``path`` holds fewer than ``min_files``
    files (bytes are then not summed and read 0) or when the rewrite
    would not reduce the file count.  Returns ``(files_before, bytes,
    files_after)``; ``files_after == files_before`` when nothing was
    written."""
    files = [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    if len(files) < min_files:
        return len(files), 0, len(files)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))  # ceil div
    if n_out >= len(files):
        return len(files), total, len(files)
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(dest)
    return len(files), total, n_out


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction — the table-maintenance op that keeps scan
    parallelism healthy at warehouse scale (a 100 TB table fed by
    incremental jobs accretes millions of KB-sized files; open/footer
    overhead then dominates scans).  Rewrites the directory with
    :func:`coalesce_rewrite`, staging to a temp dir and swapping so a
    crash mid-compact leaves the original intact.

    Returns ``{files_before, files_after, bytes}``.  On Iceberg
    deployments prefer the catalog's ``rewrite_data_files`` action
    (snapshot-safe, concurrent-writer-safe) — this is the plain-parquet
    fallback, safe only without concurrent writers (documented)."""
    import shutil

    tmp = path.rstrip("/") + "._compact_tmp"
    before, total, after = coalesce_rewrite(spark, path, tmp, target_bytes, min_files)
    if after < before:
        old = path.rstrip("/") + "._compact_old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    return {"files_before": before, "files_after": after, "bytes": total}


def write_sorted_export(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 8,
) -> None:
    """Globally-sorted parquet export: ``repartitionByRange`` on the
    sort key (sampled range bounds → balanced files) then
    ``sortWithinPartitions`` — together a total order across files
    (file k's max <= file k+1's min) WITHOUT a single-task global sort.
    The warehouse-export shape: range pruning works on the sort column
    for any downstream reader, and each file is internally sorted for
    page-index skipping.  One range-exchange, n_files writers."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
