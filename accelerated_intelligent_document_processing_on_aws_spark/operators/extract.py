"""Distributed per-turn extraction: the pipeline's hot path.

Replaces the reference's OCR→classification→assessment Lambda chain
(``patterns/pattern-2/statemachine/workflow.asl.json``) with ONE
Arrow-batched ``mapInArrow`` pass: each executor pulls columnar
batches, runs the pure kernel per turn, and emits the extracted
columns.  There is no per-row Python at the Spark API surface — batches
in, batches out — matching the input-hint requirement.

Scale design (100 TB / 10^12 turns):

- **Salted repartition.**  Turn-level extraction is embarrassingly
  parallel, but Zipf conversation lengths make any conv_id-keyed layout
  skewed.  We repartition by ``xxhash64(conv_id)`` *plus a turn-derived
  salt* so one 10^6-turn conversation spreads across up to ``salt``
  kernel tasks (north rule's skew defusal); by default there is one
  kernel task per core.  The later window/segmentation phase
  re-shuffles by conv_id alone — that phase touches only the narrow
  derived columns, never the raw text.
- **Column pruning.**  The kernel consumes exactly
  (conv_id, turn_idx, role, text, tool, ts); Catalyst prunes the scan
  to those columns (visible as ReadSchema in .explain).
- **Lineage.**  A checkpoint wave (:func:`extract_wave`) counts the
  north-rule lineage table (partition_id, rows_in, rows_out,
  extract_ms) inside each kernel task, into an accumulator, so it needs
  no second pass over its output; ``sources/checkpoint.py`` writes it
  beside the extracted table.  It is the analog of the reference's
  metering capture (``reporting/save_reporting_data.py:1084-1097``).
  Every kernel call returns the same columns, :data:`EXTRACTED_SCHEMA`;
  a wave's output adds its checkpoint ``bucket``.
"""

from __future__ import annotations

import os
import sys
import time
import zipimport
from collections import Counter
from functools import partial

import pandas as pd
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.oracle import extract_turn_raw

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("conf", T.DoubleType()),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload_kind", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("classification", T.StringType()),
        T.StructField("boundary", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

KERNEL_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# A checkpoint wave's kernel output: the extracted columns and the
# passed-through checkpoint bucket.
WAVE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())]
)


class _LineageTallyParam(AccumulatorParam):
    """Sums ``{(bucket, partition_id): (rows_in, rows_out, extract_ms)}``
    dicts key by key."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, update):
        for key, (n_in, n_out, ms) in update.items():
            a_in, a_out, a_ms = acc.get(key, (0, 0, 0.0))
            acc[key] = (a_in + n_in, a_out + n_out, a_ms + ms)
        return acc


def _drop_spark_zip_importers():
    """Delete from ``sys.path_importer_cache`` the zip importers over the
    archives on the worker's start-up ``PYTHONPATH`` (Spark's own python
    path: ``pyspark.zip``, py4j and the spark-core jar).

    pyspark's ``setup_spark_files`` ends every task with
    ``importlib.invalidate_caches()``, and under CPython 3.11 each cached
    zip importer then re-reads its archive's whole directory: 0.1-0.27 s
    per task on a reused worker (NOTES.md "Python task set-up cost").
    The cache only memoizes; a path hook rebuilds a dropped importer
    from ``zipimport._zip_directory_cache`` without a re-read, and
    Spark's archives do not change during a worker's life.  Importers of
    the job's py-files, which pyspark adds under the SparkFiles root,
    stay and are still refreshed.

    The kernel calls it after its last batch: a worker's first batch
    imports modules (pyarrow's pandas shim pulls in
    ``concurrent.futures``), and each new top-level import rebuilds one
    importer per archive on ``sys.path``."""
    spark_path = set(os.environ.get("PYTHONPATH", "").split(os.pathsep))
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in spark_path:
            del sys.path_importer_cache[key]


def _kernel_batches_arrow(batches, tally=None):
    """The ``mapInArrow`` kernel wrapper: runs :func:`extract_turn_raw`
    per turn and builds the output RecordBatch with pyarrow directly,
    spans assembled as flat struct arrays (no per-span dict, no pandas
    object columns).

    With ``tally`` (the accumulator of :func:`extract_wave`) the input also
    carries the checkpoint ``bucket``: each batch passes it through
    (:data:`WAVE_SCHEMA`) and adds its per-``(bucket, partition_id)``
    lineage counts to ``tally``.

    Inside a task it ends with :func:`_drop_spark_zip_importers`, so the
    worker's next task starts without re-reading Spark's archives."""
    import pyarrow as pa

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        t0 = time.perf_counter()
        names = batch.schema.names
        col = {name: batch.column(i) for i, name in enumerate(names)}
        texts = col["text"].to_pylist()
        roles = col["role"].to_pylist()
        tools = col["tool"].to_pylist()
        ex_text: list[str] = []
        ex_cls: list[str] = []
        ex_bnd: list[str] = []
        ex_conf: list[float] = []
        ex_kind: list[str] = []
        # spans flattened: offsets into four flat component lists — the
        # ListArray is assembled columnar-native below, no per-span dict
        offsets: list[int] = [0]
        s_start: list[int] = []
        s_end: list[int] = []
        s_kind: list[str] = []
        s_conf: list[float] = []
        for i in range(n):
            extracted, spans, cls, bnd, conf, kind = extract_turn_raw(
                texts[i], roles[i], tools[i]
            )
            ex_text.append(extracted)
            ex_cls.append(cls)
            ex_bnd.append(bnd)
            ex_conf.append(conf)
            ex_kind.append(kind)
            for s, e, k, c in spans:
                s_start.append(s)
                s_end.append(e)
                s_kind.append(k)
                s_conf.append(c)
            offsets.append(len(s_start))
        span_arr = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(s_start, pa.int32()),
                    pa.array(s_end, pa.int32()),
                    pa.array(s_kind, pa.string()),
                    pa.array(s_conf, pa.float64()),
                ],
                names=["start", "end", "kind", "conf"],
            ),
        )
        out = [
            col["conv_id"],
            col["turn_idx"],
            col["role"],
            col["tool"],
            col["ts"],
            pa.array(ex_kind, pa.string()),
            pa.array(ex_text, pa.string()),
            span_arr,
            pa.array(ex_cls, pa.string()),
            pa.array(ex_bnd, pa.string()),
            pa.array(ex_conf, pa.float64()),
        ]
        schema = EXTRACTED_SCHEMA
        if tally is not None:
            out.append(col["bucket"])
            schema = WAVE_SCHEMA
        rb = pa.RecordBatch.from_arrays(out, names=[f.name for f in schema.fields])
        if tally is not None:
            row_ms = (time.perf_counter() - t0) * 1000.0 / n
            buckets = col["bucket"].to_pylist()
            rows_out = Counter(b for b, t in zip(buckets, ex_text) if t is not None)
            tally.add(
                {
                    (b, pid): (n_b, rows_out[b], row_ms * n_b)
                    for b, n_b in Counter(buckets).items()
                }
            )
        yield rb
    if ctx is not None:
        _drop_spark_zip_importers()


def _salted_repartition(
    df: DataFrame, salt: int, num_partitions: int | None
) -> DataFrame:
    """Hash-repartition by ``(xxhash64(conv_id), pmod(turn_idx, salt))``
    into ``num_partitions`` kernel tasks, by default one per core
    (``defaultParallelism``).

    The salt, not the task count, spreads a hot conversation: its
    ``salt`` sub-keys hash across the tasks.  More tasks than cores only
    add fixed costs: every Python-evaluated task pays a set-up before
    its first row (about 0.05 s of a core per kernel task on a reused
    worker, 4-vCPU host, see NOTES.md), and every checkpoint wave writes
    one parquet file per task and bucket."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        num_partitions, F.xxhash64("conv_id"), F.pmod(F.col("turn_idx"), F.lit(salt))
    )


def extract_turns(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    salt: int = 16,
) -> DataFrame:
    """Run the extraction kernel over a transcripts DataFrame.

    ``salt`` splits each conversation across up to ``salt`` kernel tasks
    (pure per-turn work, order restored downstream by window sort);
    ``num_partitions`` is the number of kernel tasks, one per core by
    default.

    ``salt=0`` skips the repartition entirely and runs the kernel
    straight on the SCAN partitions — zero shuffle, so the text bytes
    never leave their scan task.  It measured ~1.5× faster at sf0.1 on
    32 cores, but on a 4-core host a checkpointed wave without the
    shuffle was not faster (1.644 s against 1.561 s salted, medians of
    7-8 alternating runs of 16 buckets in one process).  Use it when the
    input layout is already row-balanced (byte-split parquet/Iceberg
    scans are, regardless of conversation skew); keep the default
    salted repartition when the input is conv-clustered (one file per
    conversation, conv-sorted exports) — there the shuffle IS the skew
    defusal the north rule requires.
    """
    df = transcripts.select(*KERNEL_COLUMNS)
    if salt > 0:
        df = _salted_repartition(df, salt, num_partitions)
    return df.mapInArrow(_kernel_batches_arrow, schema=EXTRACTED_SCHEMA)


def extract_wave(part: DataFrame, salt: int = 16):
    """:func:`extract_turns` for one checkpoint wave.  ``part`` carries
    the wave's ``bucket`` column; the kernel passes it through
    (:data:`WAVE_SCHEMA`) and counts the wave's lineage into an
    accumulator as it builds each batch, so the wave's output is read
    once, by its write.

    Returns ``(extracted, tally)``.  ``tally.value`` maps ``(bucket,
    partition_id)`` to ``(rows_in, rows_out, extract_ms)``, the lineage
    table's columns before rounding.  It is complete once an action
    over ``extracted`` has finished, and counts each row once only if no
    shuffle follows the kernel in that action's plan (see
    ``sources/checkpoint.py``)."""
    tally = part.sparkSession.sparkContext.accumulator({}, _LineageTallyParam())
    df = part.select(*KERNEL_COLUMNS, "bucket")
    if salt > 0:
        df = _salted_repartition(df, salt, None)
    kernel = partial(_kernel_batches_arrow, tally=tally)
    return df.mapInArrow(kernel, schema=WAVE_SCHEMA), tally


def extract_turns_skew_aware(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    salt: int = 16,
    heavy_turns: int = 10_000,
) -> DataFrame:
    """Skew-aware hybrid of the two :func:`extract_turns` strategies:
    only conversations LONGER than ``heavy_turns`` take the salted
    repartition; everything else runs straight on the scan partitions.

    At 10^12 turns the full salted repartition moves every text byte
    through the shuffle to defuse a skew that only the Zipf tail
    actually has.  Here the tail is identified with one cheap
    conv_id-only aggregate (columnar scan of a single dictionary-coded
    column, no text), broadcast as a semi/anti-join filter, and ONLY
    those conversations' turns are shuffled — the salted exchange
    shrinks from 100% of the corpus to the heavy-tail fraction while
    the skew defusal the north rule requires still applies to exactly
    the conversations that need it.  Two filtered scans replace one
    scan + full shuffle: at scale, re-reading columnar storage is
    cheaper than writing + reading the whole corpus through shuffle.

    Output is row-identical to both pure strategies (kernel is
    per-turn; union order is immaterial under the downstream
    Window.partitionBy(conv_id).orderBy(turn_idx) restore) — asserted
    by tests/test_pipeline_spark.py's skew-aware equivalence test.

    Both branches read the heavy-id set.  The aggregate runs once only
    through exchange reuse: the second branch's broadcast is a
    ``ReusedExchange`` of the first's (pinned by
    tests/test_plan_hygiene.py).  Over a cached input (an
    ``InMemoryRelation``) that reuse does not happen, and the aggregate
    runs once per branch.
    """
    df = transcripts.select(*KERNEL_COLUMNS)
    heavy_ids = F.broadcast(
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > heavy_turns)
        .select("conv_id")
    )
    light = df.join(heavy_ids, "conv_id", "left_anti")
    heavy = df.join(heavy_ids, "conv_id", "left_semi")
    heavy = _salted_repartition(heavy, max(salt, 1), num_partitions)
    return light.mapInArrow(_kernel_batches_arrow, schema=EXTRACTED_SCHEMA).unionAll(
        heavy.mapInArrow(_kernel_batches_arrow, schema=EXTRACTED_SCHEMA)
    )


def alerts(extracted: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Confidence threshold alerts (assessment analog,
    ``assessment/service.py:262-286``): rows whose per-turn confidence
    falls below the threshold."""
    return (
        extracted.where(F.col("confidence") < F.lit(threshold))
        .select(
            "conv_id",
            "turn_idx",
            "classification",
            "confidence",
            F.lit(threshold).alias("confidence_threshold"),
        )
    )


def alerts_with_thresholds(
    extracted: DataFrame, thresholds: DataFrame, default_threshold: float = 0.8
) -> DataFrame:
    """Per-class confidence thresholds — the analog of the reference's
    per-attribute ``x-aws-idp-confidence-threshold`` injection
    (``assessment/service.py:181-290``): each classification carries its
    own alert threshold from a broadcast dim table
    (classification, threshold); unlisted classes use the default."""
    dim = F.broadcast(
        thresholds.select(
            "classification", F.col("threshold").alias("_class_threshold")
        )
    )
    thr = F.coalesce(F.col("_class_threshold"), F.lit(default_threshold))
    return (
        extracted.join(dim, "classification", "left")
        .where(F.col("confidence") < thr)
        .select(
            "conv_id",
            "turn_idx",
            "classification",
            "confidence",
            thr.alias("confidence_threshold"),
        )
    )


def payload_kind_udf():
    """Standalone file-type sniff as an Arrow-batched UDF — the magic-
    prefix + parse-validation dispatch of ``ocr/service.py:1677-1723``
    (extension + magic bytes → {pdf,txt,csv,...}), restated for the
    transcript payload kinds {html, layout, plain}.  The extraction
    kernel runs the same function inline (``kernel/oracle.py``,
    ``sniff_payload_kind``); this exposes it for payload routing
    outside the kernel."""
    from pyspark.sql.functions import pandas_udf

    from ..kernel.oracle import sniff_payload_kind

    @pandas_udf(T.StringType())
    def _sniff(text: pd.Series) -> pd.Series:
        return text.map(lambda t: sniff_payload_kind(t or ""))

    return _sniff
