"""Custom stateful streaming operator: incremental BIO segmentation.

The batch engine numbers sections with a window over the whole
conversation (``operators.segmentation``).  In a stream, a
conversation's turns arrive across micro-batches, so section numbering
must carry state: ``applyInPandasWithState`` keyed by ``conv_id`` holds
``(last_class, last_section_id, last_turn_idx, reorder buffer)`` and
continues the numbering exactly where the previous micro-batch stopped.

Semantics match the batch BIO rule (new section on class change or
boundary=='start', reference ``classification/service.py:2138-2214``).

**Out-of-order delivery.**  Spark's file source orders micro-batches by
file modification time, which is NOT guaranteed to match turn order
(same-second mtimes tie-break arbitrarily), so a later shard can arrive
first.  Round 1 treated any ``turn_idx <= last_turn`` as a duplicate
and silently dropped it — a correctness bug.  Now:

- turns ahead of the emission frontier are **buffered in state** and
  emitted once their predecessors arrive (output therefore equals the
  batch result for any delivery order of a contiguous 0-based
  conversation — the engine's transcript contract);
- true duplicate deliveries (already emitted or already buffered) are
  **counted** in state (``n_dups``, surfaced by :func:`state_metrics`
  on the emitted rows via the ``pending_after`` / ``dups_after``
  columns) — idempotent skip, never silent;
- a reorder buffer still above ``max_pending`` AFTER the contiguous
  frontier has been drained raises ``RuntimeError`` — an upstream gap
  (a genuinely missing turn) must fail the job loudly, never emit
  mis-numbered sections.  The check runs post-drain so a single large
  in-order micro-batch (a backfill delivering >max_pending contiguous
  turns at once) is NOT a failure: those rows drain to zero pending.
  ``max_pending`` is a real parameter of :func:`streaming_sections`
  (default ``MAX_PENDING_DEFAULT``).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("classification", T.StringType()),
        T.StructField("section_id", T.IntegerType()),
        # state visibility: buffer depth / duplicate count AFTER this
        # batch's processing — lets a monitoring sink alert on reorder
        # pressure instead of the operator hiding it
        T.StructField("pending_after", T.IntegerType()),
        T.StructField("dups_after", T.IntegerType()),
        # true only for rows emitted by a timeout flush ACROSS a gap —
        # downstream can quarantine these instead of trusting numbering
        T.StructField("gap_flushed", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_class", T.StringType()),
        T.StructField("last_section", T.IntegerType()),
        T.StructField("last_turn", T.IntegerType()),
        T.StructField("pending_json", T.StringType()),
        T.StructField("n_dups", T.IntegerType()),
        # max event-time (epoch ms) seen for the conversation — drives
        # the event-time flush timeout (0 in processing-time mode)
        T.StructField("max_ts_ms", T.LongType()),
    ]
)

MAX_PENDING_DEFAULT = 100_000


def _make_segment_group(
    flush_timeout_ms: int | None = None,
    max_pending: int = MAX_PENDING_DEFAULT,
    event_time: bool = False,
):
    """Build the applyInPandasWithState function.

    ``flush_timeout_ms``: when set, a conversation that receives no data
    for that long has its reorder buffer FLUSHED in sorted order across
    any gaps — each flushed row marked ``gap_flushed=true`` so a
    downstream sink can quarantine it (the alternative is holding the
    buffer forever when an upstream truly lost a turn).

    ``event_time``: interpret ``flush_timeout_ms`` against EVENT time —
    the flush fires when the stream's watermark passes the
    conversation's max observed ``ts`` plus the timeout, so the decision
    is reproducible from the data alone (round-2 advice: the
    processing-time flush depended on wall clock).  Requires a ``ts``
    column and an upstream watermark.

    ``max_pending``: reorder-buffer ceiling, checked AFTER the
    contiguous frontier drains (a gap leaves the buffer non-drainable;
    in-order backfills drain to zero and never trip it)."""

    def _segment_group(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.exists:
            (last_class, last_section, last_turn, pending_json, n_dups,
             max_ts_ms) = state.get
            pending: dict[int, tuple] = {
                int(k): tuple(v) for k, v in json.loads(pending_json).items()
            }
        else:
            last_class, last_section, last_turn = None, 0, -1
            pending, n_dups, max_ts_ms = {}, 0, 0

        timed_out = bool(getattr(state, "hasTimedOut", False))
        if not timed_out:
            for pdf in pdfs:
                if event_time and "ts" in pdf.columns and len(pdf):
                    batch_max = pdf["ts"].max()
                    if batch_max is not None and batch_max == batch_max:  # not NaT
                        max_ts_ms = max(max_ts_ms, int(batch_max.value // 1_000_000))
                for turn_idx, cls, boundary in zip(
                    pdf["turn_idx"], pdf["classification"], pdf["boundary"]
                ):
                    ti = int(turn_idx)
                    if ti <= last_turn or ti in pending:
                        n_dups += 1  # duplicate delivery: idempotent skip, counted
                        continue
                    pending[ti] = (cls, boundary)

        out_rows: list[tuple] = []

        def emit_frontier(gap_flushed: bool) -> None:
            nonlocal last_class, last_section, last_turn
            while (last_turn + 1) in pending:
                ti = last_turn + 1
                cls, boundary = pending.pop(ti)
                if last_class is None or cls != last_class or boundary == "start":
                    last_section += 1
                last_class = cls
                last_turn = ti
                out_rows.append((conv_id, ti, cls, last_section, gap_flushed))

        # drain the contiguous frontier (turn indices are 0-based
        # contiguous per the transcript contract; later turns wait)
        emit_frontier(gap_flushed=False)

        # post-drain guard: anything still pending is ahead of a true
        # gap — bound the buffer; a large in-order batch drained above
        if len(pending) > max_pending:
            raise RuntimeError(
                f"conv {conv_id}: reorder buffer {len(pending)} exceeds "
                f"{max_pending} after frontier drain — upstream turn gap, "
                "refusing to emit mis-numbered sections"
            )

        if timed_out and pending:
            # flush across gaps in sorted order, marked loudly
            # (emit_frontier may drain followers of each flushed turn,
            # so re-take the minimum each round)
            while pending:
                ti = min(pending)
                cls, boundary = pending.pop(ti)
                if last_class is None or cls != last_class or boundary == "start":
                    last_section += 1
                last_class = cls
                last_turn = ti
                out_rows.append((conv_id, ti, cls, last_section, True))
                emit_frontier(gap_flushed=True)

        state.update(
            (
                last_class,
                last_section,
                last_turn,
                json.dumps({str(k): list(v) for k, v in pending.items()}),
                n_dups,
                max_ts_ms,
            )
        )
        if flush_timeout_ms is not None and not timed_out:
            if event_time:
                # fires when the WATERMARK (event time) passes the
                # conversation's last activity + timeout — deterministic
                # given the data, independent of wall clock
                state.setTimeoutTimestamp(max_ts_ms + flush_timeout_ms)
            else:
                state.setTimeoutDuration(flush_timeout_ms)
        yield pd.DataFrame(
            [(c, t, cl, s, len(pending), n_dups, g) for c, t, cl, s, g in out_rows],
            columns=[f.name for f in OUTPUT_SCHEMA.fields],
        )

    return _segment_group


# default instance (no timeout): module-level for direct unit testing
_segment_group = _make_segment_group(None)


def streaming_sections(
    extracted_stream: DataFrame,
    flush_timeout_ms: int | None = None,
    max_pending: int = MAX_PENDING_DEFAULT,
    flush_mode: str = "processing",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Per-turn section ids over a streaming extracted DataFrame
    (needs conv_id, turn_idx, classification, boundary; plus ``ts``
    for event-time flushing).

    With ``flush_timeout_ms`` set, idle conversations flush their
    reorder buffer across gaps (rows marked ``gap_flushed``) instead of
    holding it forever.  ``flush_mode``:

    - ``'processing'``: wall-clock idle timeout (round-2 behavior).
    - ``'event'``: the flush fires when the stream's WATERMARK passes
      the conversation's max event time + ``flush_timeout_ms`` — late
      data is governed by ``withWatermark(ts, watermark_delay)`` and
      the flush point is reproducible from the data alone (a replay of
      the same shards flushes at the same place, which a wall-clock
      timeout cannot promise).

    ``max_pending`` bounds the reorder buffer (checked after the
    contiguous frontier drains)."""
    if flush_mode not in ("processing", "event"):
        raise ValueError("flush_mode must be 'processing' or 'event'")
    event = flush_mode == "event" and flush_timeout_ms is not None
    if flush_timeout_ms is None:
        timeout = GroupStateTimeout.NoTimeout
    elif event:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    cols = ["conv_id", "turn_idx", "classification", "boundary"]
    src = extracted_stream
    if event:
        src = src.withWatermark("ts", watermark_delay)
        cols.append("ts")
    return (
        src.select(*cols)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_segment_group(flush_timeout_ms, max_pending, event_time=event),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            timeout,
        )
    )
