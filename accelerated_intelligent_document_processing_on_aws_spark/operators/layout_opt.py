"""Data-layout optimization: Z-order clustering for multi-column pruning.

At 100 TB the scan cost of a query is decided by FILE LAYOUT: min/max
column statistics prune parquet files only when rows with similar key
values are physically co-located.  Sorting by one column prunes that
column alone; interleaving the bits of several quantized columns (a
Z-/Morton curve) gives every interleaved column partial clustering, so
range predicates on ANY of them skip most files — the technique behind
Delta Lake's ``OPTIMIZE ZORDER BY`` and ClickHouse/Iceberg multi-dim
sort keys, built here from pure Catalyst integer arithmetic (no UDF,
engine-reproducible, oracle-checkable).

Pieces:
- :func:`quantize_minmax_multi` — each column → [0, 2^bits) rank via
  ONE broadcast 1-row min/max aggregate over all columns (no global
  window, no single-task sort).
- :func:`zorder_key` — bit-interleave quantized columns into one long.
- :func:`zorder_layout` — repartitionByRange on the key (+ in-partition
  sort) so a downstream ``write.parquet`` emits z-clustered files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton/Z-value of pre-quantized non-negative int columns: bit i
    of column j lands at interleaved position ``i*len(cols) + j``.
    ``len(cols) * bits`` must be ≤ 63 (signed long)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, i * n + j).cast("long")
            )
    return key


def quantize_minmax_multi(df: DataFrame, cols: list[str], bits: int) -> DataFrame:
    """Add ``{col}_q`` for every column: the column linearly quantized
    to [0, 2^bits) over its observed min/max.  Every column's min/max
    comes from ONE shared 1-row aggregate broadcast back (a single extra
    scan + one broadcast total, however many columns; a per-column
    aggregate would re-scan the input per dimension)."""
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        aggs += [F.min(v).alias(f"_min_{c}"), F.max(v).alias(f"_max_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    buckets = F.lit((1 << bits) - 1)
    for c in cols:
        v = F.col(c).cast("double")
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        q = F.when(hi == lo, F.lit(0)).otherwise(
            F.floor((v - lo) / (hi - lo) * buckets)
        )
        out = out.withColumn(f"{c}_q", F.least(q, buckets).cast("long"))
    return out.drop(
        *[f"_min_{c}" for c in cols], *[f"_max_{c}" for c in cols]
    )


def zorder_layout(
    df: DataFrame, cols: list[str], bits: int = 8, n_files: int = 64
) -> DataFrame:
    """Quantize ``cols``, range-partition on the Z-value, sort within
    partitions — the frame is ready for ``write.parquet`` to emit
    ``n_files`` z-clustered files whose per-column min/max stats prune
    range predicates on ANY of ``cols``."""
    qcols = [f"{c}_q" for c in cols]
    out = quantize_minmax_multi(df, cols, bits).withColumn(
        "_zkey", zorder_key(qcols, bits)
    )
    return (
        out.repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *qcols)
    )
