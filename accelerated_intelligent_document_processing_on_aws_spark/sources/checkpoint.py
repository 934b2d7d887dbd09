"""Idempotent checkpoint/resume for the extraction job.

The reference resumes by caching per-document classification results in
DynamoDB keyed ``classcache#{doc}#{workflow}`` and skipping completed
stages (``classification/service.py:1627-1778``;
``patterns/pattern-2/src/classification_function/index.py:60-80``).
The Spark-native restatement: conversations hash into ``n_buckets``
fixed buckets; the job processes buckets in waves, replaces each
wave's bucket partitions (idempotent — a re-run of a wave replaces,
never duplicates), and appends the bucket ids to a manifest
only after the write commits.  Resume = set difference on the manifest,
i.e. a driver-side anti-join on a tiny key set.  With an Iceberg
catalog the manifest becomes snapshot metadata; the API is unchanged.

This mirrors at-least-once Lambda + idempotent S3 overwrite semantics
while keeping recovery O(pending work), not O(corpus).

A wave is one Spark write job after the scan's salted shuffle
(:func:`_write_wave`): the kernel passes the wave's ``bucket`` column
through, so it is hashed once per row, and counts the wave's lineage
into an accumulator while it runs in the write's result stage.  Nothing
is cached and the output is not read back; the driver then writes the
wave's lineage rows to ``lineage/bucket=K/`` with pyarrow, beside the
manifest it already writes.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns, extract_wave
from .reporting import coalesce_rewrite

MANIFEST = "_manifest.json"


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def read_manifest(out_dir: str) -> dict:
    p = os.path.join(out_dir, MANIFEST)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"done_buckets": [], "n_buckets": None, "snapshot_id": 0, "snapshots": []}


def _replay(history: list[dict]):
    """Yield ``(entry, done_buckets, data_locations)`` after each entry
    of the snapshot history: the set of done buckets and the
    bucket→location mapping as of that entry's snapshot.  Entries are
    deltas — ``added``/``removed`` buckets, ``data`` as
    ``{bucket: location}`` with ``None`` removing the bucket — or
    legacy full-state entries (``done_buckets``), which reset the done
    set, so old manifests replay correctly.  The yielded set and dict
    are the replay's own state: copy them to keep them past the next
    step."""
    done: set = set()
    data: dict = {}
    for snap in history:
        if "done_buckets" in snap:  # legacy full-state entry
            done = set(snap["done_buckets"])
        else:
            done.difference_update(snap.get("removed", ()))
            done.update(snap.get("added", ()))
        for b, loc in snap.get("data", {}).items():
            if loc is None:
                data.pop(b, None)
            else:
                data[b] = loc
        yield snap, done, data


def _as_of(out_dir: str, history: list[dict], snapshot_id: int):
    """``(entry, done_buckets, data_locations)`` as of ``snapshot_id``;
    ``KeyError`` for an id the history does not hold."""
    for snap, done, data in _replay(history):
        if snap["snapshot_id"] == snapshot_id:
            return snap, done, data
    raise KeyError(f"no snapshot {snapshot_id} in {out_dir}")


def _write_manifest(out_dir: str, manifest: dict, operation: str = "wave") -> None:
    """Atomic manifest commit, Iceberg-snapshot style: every commit gets
    a monotonically increasing ``snapshot_id`` and appends a DELTA
    entry (buckets added/removed vs the previous snapshot) to the
    ``snapshots`` history, so any prior checkpoint state is
    reconstructible (``manifest_as_of``) and the job can roll back to
    one (``rollback_to_snapshot``) — the parquet-side analog of the
    reference's workflow-keyed cache generations.  Deltas keep the
    manifest O(total bucket churn), not O(waves × n_buckets) — a
    4096-bucket wave_size-1 run stays linear, where full-state history
    entries grew quadratically (ADVICE r5).

    The previous snapshot's state is the manifest on disk: one writer
    commits at a time, so ``manifest`` must have been read from the
    commit it replaces (checked).  With a real Iceberg catalog these
    commits become table snapshots and the API is unchanged."""
    prev = read_manifest(out_dir)
    if prev.get("snapshot_id", 0) != manifest.get("snapshot_id", 0):
        raise RuntimeError(f"{out_dir}: the manifest changed since it was read")
    sid = int(manifest.get("snapshot_id", 0)) + 1
    manifest["snapshot_id"] = sid
    entry = {
        "snapshot_id": sid,
        "operation": operation,
        "n_buckets": manifest["n_buckets"],
    }
    before, cur = set(prev["done_buckets"]), set(manifest["done_buckets"])
    if cur - before:
        entry["added"] = sorted(cur - before)
    if before - cur:
        entry["removed"] = sorted(before - cur)
    if "data_locations" in manifest:
        # versioned-data layout: delta the bucket→location mapping too
        before = prev.get("data_locations", {})
        cur = manifest["data_locations"]
        delta = {b: loc for b, loc in cur.items() if before.get(b) != loc}
        delta.update({b: None for b in before if b not in cur})
        if delta:
            entry["data"] = delta
    manifest.setdefault("snapshots", []).append(entry)
    p = os.path.join(out_dir, MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)  # atomic commit


def manifest_as_of(out_dir: str, snapshot_id: int) -> dict:
    """Checkpoint state as of a snapshot id (exact match required)."""
    snap, done, _ = _as_of(
        out_dir, read_manifest(out_dir).get("snapshots", []), snapshot_id
    )
    return {
        "done_buckets": sorted(done),
        "n_buckets": snap["n_buckets"],
        "snapshot_id": snapshot_id,
    }


def rollback_to_snapshot(
    out_dir: str, snapshot_id: int, allow_undelete: bool = False
) -> dict:
    """Roll the CURRENT checkpoint state back to a prior snapshot.

    Like Iceberg's rollback, this is itself a NEW commit (ids stay
    monotonic; history is never rewritten).  Buckets completed after
    the target snapshot become pending again; re-running the job
    re-extracts exactly those buckets via the idempotent
    partition-overwrite path, so the result is byte-stable.

    COMPLIANCE GUARD: if a ``delete_conversations`` commit exists AFTER
    the target snapshot, re-extracting the rolled-back buckets would
    silently RESURRECT the deleted conversations (the source corpus
    still contains them).  Such rollbacks are refused unless
    ``allow_undelete=True`` is passed explicitly; callers who force it
    must re-apply the audit log with :func:`replay_deletions` after the
    resumed run to restore compliance (ADVICE r5)."""
    manifest = read_manifest(out_dir)
    history = manifest.get("snapshots", [])
    snap, done, data = _as_of(out_dir, history, snapshot_id)
    later_deletes = [
        s["snapshot_id"]
        for s in history
        if s["snapshot_id"] > snapshot_id and s["operation"] == "delete"
    ]
    if later_deletes and not allow_undelete:
        raise ValueError(
            f"rollback to snapshot {snapshot_id} crosses delete commit(s) "
            f"{later_deletes}: re-extraction would resurrect deleted conversations. "
            "Pass allow_undelete=True to force, then run replay_deletions() "
            "after the resumed extraction to re-apply the deletion audit log."
        )
    manifest["done_buckets"] = sorted(done)
    manifest["n_buckets"] = snap["n_buckets"]
    if "data_locations" in manifest:
        # versioned-data layout: restore the bucket→location mapping —
        # the rolled-back state is READABLE immediately (old files were
        # never mutated), no re-extraction required.
        manifest["data_locations"] = dict(data)
    _write_manifest(out_dir, manifest, operation=f"rollback_to_{snapshot_id}")
    return manifest


def replay_deletions(spark: SparkSession, out_dir: str) -> dict:
    """Re-apply every logged ``delete_conversations`` audit entry to the
    current extracted output — the recovery step after a forced
    rollback (``allow_undelete=True``) + resume re-extracted buckets
    containing conversations that had been deleted.  Idempotent: a
    conversation already absent deletes zero rows.  Runs the deleter of
    the output's layout.  Returns the merged ``{bucket: n_deleted}``
    across all replayed entries."""
    manifest = read_manifest(out_dir)
    all_ids = sorted(
        {c for entry in manifest.get("deletions", []) for c in entry["conv_ids"]}
    )
    if not all_ids:
        return {}
    return _delete(
        spark, out_dir, all_ids, False, versioned="data_locations" in manifest
    )


def _write_lineage(out_dir: str, tally: dict) -> None:
    """Write a wave's lineage, one parquet file per bucket under
    ``lineage/bucket=K/``: ``partition_id int, rows_in bigint, rows_out
    bigint, extract_ms double, ts timestamp``, and ``bucket int`` from
    the directory, the types a Spark ``partitionBy("bucket")`` write of
    the same rows gives.
    ``tally`` is the value of the accumulator
    :func:`~..operators.extract.extract_wave` returns; ``ts`` is the
    driver's time at the end of the wave.  Each file is renamed into
    place from a hidden temporary, so a crash leaves no partial file
    that a reader of ``lineage/`` would see."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.now(timezone.utc)
    rows = defaultdict(list)
    for (bucket, pid), (n_in, n_out, ms) in sorted(tally.items()):
        rows[bucket].append((pid, n_in, n_out, round(ms, 3)))
    for bucket, bucket_rows in rows.items():
        pid, n_in, n_out, ms = zip(*bucket_rows)
        table = pa.table(
            {
                "partition_id": pa.array(pid, pa.int32()),
                "rows_in": pa.array(n_in, pa.int64()),
                "rows_out": pa.array(n_out, pa.int64()),
                "extract_ms": pa.array(ms, pa.float64()),
                "ts": pa.array([ts] * len(pid), pa.timestamp("us", tz="UTC")),
            }
        )
        part_dir = os.path.join(out_dir, "lineage", f"bucket={bucket}")
        os.makedirs(part_dir, exist_ok=True)
        tmp = os.path.join(part_dir, ".part-00000.parquet.tmp")
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(part_dir, "part-00000.parquet"))


def _data_loc(sid: int, bucket) -> str:
    return f"v={sid}/bucket_pt={bucket}"


def _run_waves(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int,
    wave_size: int,
    fail_after_waves: int | None,
    salt: int,
    versioned: bool,
) -> str:
    """The bucket-wave loop of both extraction layouts: extract the
    buckets the manifest does not list as done, ``wave_size`` at a
    time, and commit each wave to the manifest after its write.  The
    in-place layout writes ``extracted/bucket=K/``; the versioned one
    writes ``data/v=<sid>/bucket_pt=K/`` under the snapshot id the
    wave's commit takes, and repoints the bucket→location mapping.  A
    wave first removes its partition directories there and under
    ``lineage/``, so a re-run replaces what an earlier attempt wrote.

    The lineage counts come from the kernel tasks of the write job
    itself.  Each is counted exactly once because the kernel runs in the
    write's result stage (the salted shuffle is below it, and the write
    adds only a local sort): the DAGScheduler applies a result task's
    accumulator updates only when that partition first completes, and
    drops those of failed attempts, so a retried or speculative kernel
    task adds nothing twice.  A shuffle between the kernel and the write
    would break this, since a map task reruns when its output is lost
    and its updates count again."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir)
    if manifest["n_buckets"] not in (None, n_buckets):
        raise ValueError("n_buckets changed across resume")
    if versioned and manifest.get("stream_batches"):
        raise ValueError(
            f"{out_dir} holds streaming snapshot commits; bucket waves "
            "would mix layouts — use a separate output"
        )
    manifest["n_buckets"] = n_buckets
    done = set(manifest["done_buckets"])
    pending = [b for b in range(n_buckets) if b not in done]

    src = transcripts.withColumn("bucket", bucket_col(n_buckets))
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]
    for wi, wave in enumerate(waves):
        if fail_after_waves is not None and wi >= fail_after_waves:
            raise RuntimeError("injected crash for resume test")
        sid = int(manifest.get("snapshot_id", 0)) + 1
        if versioned:
            dest, part_col = os.path.join(out_dir, "data", f"v={sid}"), "bucket_pt"
        else:
            dest, part_col = os.path.join(out_dir, "extracted"), "bucket"
        for b in wave:
            shutil.rmtree(os.path.join(dest, f"{part_col}={b}"), ignore_errors=True)
            shutil.rmtree(os.path.join(out_dir, "lineage", f"bucket={b}"), ignore_errors=True)
        extracted, tally = extract_wave(src.where(F.col("bucket").isin(wave)), salt=salt)
        if versioned:
            # bucket_pt drives the directory layout; bucket stays a
            # REGULAR column inside the files, so a multi-path snapshot
            # read needs no partition-discovery basePath
            extracted = extracted.withColumn(part_col, F.col("bucket"))
        extracted.write.mode("append").partitionBy(part_col).parquet(dest)
        _write_lineage(out_dir, tally.value)
        done.update(wave)
        manifest["done_buckets"] = sorted(done)
        if versioned:
            data = manifest.setdefault("data_locations", {})
            for b in wave:
                # map only the locations partitionBy created: a bucket
                # with zero rows writes no directory, and a dangling
                # pointer would make every later read_snapshot raise.
                # An unmapped bucket reads as empty.
                if os.path.isdir(os.path.join(out_dir, "data", _data_loc(sid, b))):
                    data[str(b)] = _data_loc(sid, b)
        _write_manifest(out_dir, manifest, operation=f"wave:{sorted(wave)}")
    return out_dir


def run_checkpointed_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    wave_size: int = 4,
    fail_after_waves: int | None = None,
    salt: int = 8,
) -> str:
    """Extract with bucket-wave checkpointing; returns the output dir.

    ``fail_after_waves`` injects a crash for the resume test (§5(e)).
    Output layout: ``out_dir/extracted/bucket=K/...`` plus
    ``out_dir/lineage/bucket=K/...`` and the manifest.
    """
    return _run_waves(
        spark, transcripts, out_dir, n_buckets, wave_size, fail_after_waves, salt,
        versioned=False,
    )


def resume_pending(out_dir: str, n_buckets: int) -> list[int]:
    done = set(read_manifest(out_dir)["done_buckets"])
    return [b for b in range(n_buckets) if b not in done]


def _delete(
    spark: SparkSession,
    out_dir: str,
    conv_ids: list[str],
    dry_run: bool,
    versioned: bool,
) -> dict:
    """The deleter of both layouts: hash the conversations to their
    buckets, count each bucket's matching rows and, unless ``dry_run``,
    rewrite the bucket without them and log the deletion in one
    ``delete`` commit.  In place, a bucket is restaged and swapped; in
    the versioned layout it is written to a new location (or unmapped,
    when no row is left) and the mapping repointed."""
    manifest = read_manifest(out_dir)
    n_buckets = manifest["n_buckets"]
    data = manifest.get("data_locations", {})
    if not versioned and n_buckets is None:
        raise ValueError(f"{out_dir} has no completed extraction manifest")
    if versioned and manifest.get("stream_batches"):
        raise ValueError(
            f"{out_dir} holds stream-committed snapshots (no hash-bucket "
            "targeting); filter-rewrite the batch locations instead"
        )
    if versioned and (n_buckets is None or not data):
        raise ValueError(f"{out_dir} has no versioned extraction manifest")
    sid = int(manifest.get("snapshot_id", 0)) + 1
    ids_df = spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
    buckets = sorted(
        r["b"]
        for r in ids_df.select(bucket_col(n_buckets).alias("b")).distinct().collect()
    )
    deleted: dict[int, int] = {}
    for b in buckets:
        if versioned:
            if str(b) not in data:
                continue
            path = os.path.join(out_dir, "data", data[str(b)])
        else:
            path = os.path.join(out_dir, "extracted", f"bucket={b}")
            if not os.path.isdir(path):
                continue
        df = spark.read.parquet(path)
        n = df.where(F.col("conv_id").isin(conv_ids)).count()
        if n == 0:
            continue
        deleted[b] = n
        if dry_run:
            continue
        keep = df.where(~F.col("conv_id").isin(conv_ids))
        if not versioned:
            tmp_dir = path + ".rewrite"
            shutil.rmtree(tmp_dir, ignore_errors=True)
            keep.write.mode("overwrite").parquet(tmp_dir)  # materialize FIRST
            shutil.rmtree(path)
            os.replace(tmp_dir, path)
        elif keep.limit(1).count() == 0:
            # every row of the bucket was deleted: emit a mapping
            # REMOVAL ({bucket: null} in the snapshot delta) instead of
            # pointing at a freshly written empty directory —
            # read_incremental over only that location would fail
            # schema inference (r7 ADVICE).
            del data[str(b)]
        else:
            keep.write.mode("overwrite").parquet(
                os.path.join(out_dir, "data", _data_loc(sid, b))
            )
            data[str(b)] = _data_loc(sid, b)
    if deleted and not dry_run:
        manifest.setdefault("deletions", []).append(
            {"conv_ids": sorted(conv_ids), "rows_by_bucket": {str(k): v for k, v in deleted.items()}}
        )
        _write_manifest(out_dir, manifest, operation="delete")
    return deleted


def delete_conversations(
    spark: SparkSession,
    out_dir: str,
    conv_ids: list[str],
    dry_run: bool = False,
) -> dict:
    """Document-deletion analog (``delete_documents.py:286-420``): remove
    every extracted artifact of the given conversations from the
    checkpointed output.

    The reference computes a timestamp shard to find exactly the
    DynamoDB entries a document can live in; the Spark restatement
    computes each conversation's hash BUCKET and rewrites only those
    partitions with an anti-filter — touched data is O(affected
    buckets), never O(corpus).  ``dry_run`` reports what would be
    deleted without rewriting (reference ``:303``).

    Lineage partitions are left as written: lineage is the processing
    history of the original run (what the kernel did), not a live row
    inventory; deletions are instead recorded in the manifest's
    ``deletions`` audit list.  Returns ``{bucket: n_deleted}``.
    """
    return _delete(spark, out_dir, conv_ids, dry_run, versioned=False)


# -- Iceberg-style DATA time travel on plain parquet --------------------------
#
# The versioned layout uses Iceberg's mechanism — immutable data files
# plus snapshot-scoped location pointers — on plain parquet:
#
#   out/data/v=<sid>/bucket_pt=<K>/part-*.parquet   (never rewritten)
#
# Every commit that changes a bucket's data writes NEW directories
# under the about-to-be-allocated snapshot id and repoints the
# manifest's ``data_locations`` mapping, which the history carries as
# deltas: ``read_snapshot(spark, out, sid)`` replays to that snapshot's
# exact file set and reads it in ONE multi-path parquet scan.  Deletes
# rewrite only affected buckets to new locations, so prior snapshots
# still see the deleted rows until :func:`expire_snapshots` collects
# them.  Reference analog: the workflow-keyed cache generations and S3
# object versioning the reference leans on for reprocessing
# (``classification/service.py:1627-1778``, ``delete_documents.py:286-420``).


def run_versioned_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    wave_size: int = 4,
    fail_after_waves: int | None = None,
    salt: int = 8,
) -> str:
    """Checkpointed extraction with the VERSIONED data layout: each
    wave writes its buckets under the new snapshot's ``v=<sid>/``
    prefix (one partitioned write job per wave, never touching prior
    files) and commits the manifest only after the write succeeds.
    Crash recovery: an orphaned ``v=<sid>`` directory from a commit
    that never landed is simply overwritten on retry (same sid is
    re-allocated) and is otherwise invisible — no snapshot references
    it — until :func:`expire_snapshots` garbage-collects it."""
    return _run_waves(
        spark, transcripts, out_dir, n_buckets, wave_size, fail_after_waves, salt,
        versioned=True,
    )


def _read_locations(spark: SparkSession, out_dir: str, locations, what: str) -> DataFrame:
    """One multi-path parquet scan of ``locations`` under ``data/``;
    ``ValueError`` naming ``what`` when one of them is gone."""
    paths = [os.path.join(out_dir, "data", loc) for loc in locations]
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise ValueError(
            f"{what}: {len(missing)} data location(s) missing "
            f"(expired or corrupted), e.g. {missing[0]}"
        )
    return spark.read.parquet(*sorted(paths))


def read_snapshot(
    spark: SparkSession, out_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the extracted table AS OF a snapshot id (default: latest) —
    data-level time travel.  One ``spark.read.parquet(path, ...)`` over
    the snapshot's exact per-bucket file set; raises ``KeyError`` for
    an unknown snapshot and ``ValueError`` for one whose data has been
    expired."""
    manifest = read_manifest(out_dir)
    if snapshot_id is None:
        mapping = manifest.get("data_locations", {})
    elif snapshot_id in manifest.get("expired_snapshots", []):
        raise ValueError(f"snapshot {snapshot_id} has been expired")
    else:
        _, _, mapping = _as_of(out_dir, manifest.get("snapshots", []), snapshot_id)
    if not mapping:
        raise ValueError(f"{out_dir} has no versioned data snapshots")
    return _read_locations(spark, out_dir, mapping.values(), f"snapshot {snapshot_id}")


def delete_conversations_versioned(
    spark: SparkSession,
    out_dir: str,
    conv_ids: list[str],
    dry_run: bool = False,
) -> dict:
    """Versioned-layout conversation deletion: affected buckets are
    rewritten (anti-filtered) to NEW ``v=<sid>`` locations and the
    mapping repointed — O(affected buckets) work, prior snapshots
    untouched and still readable.  Like Iceberg, this is a LOGICAL
    delete until old snapshots are expired; for a hard delete (the
    reference's ``delete_documents.py`` compliance path) follow with
    ``expire_snapshots(out_dir, keep_from=<this commit's sid>)``."""
    return _delete(spark, out_dir, conv_ids, dry_run, versioned=True)


def expire_snapshots(out_dir: str, keep_from: int) -> dict:
    """Expire every snapshot with id < ``keep_from``: their ids become
    unreadable and any ``v=*/bucket_pt=*`` data directory referenced by
    NO kept snapshot (and not by the current mapping) is deleted from
    disk — including orphans from crashed commits.  History entries are
    retained (they are O(churn) deltas and later snapshots replay
    through them); only DATA is collected, exactly Iceberg's
    expire-snapshots contract.  Returns ``{"expired": [...ids],
    "removed_locations": [...]}``."""
    manifest = read_manifest(out_dir)
    expired_prior = set(manifest.get("expired_snapshots", []))
    to_expire = []
    referenced: set = set(manifest.get("data_locations", {}).values())
    for snap, _, data in _replay(manifest.get("snapshots", [])):
        if snap["snapshot_id"] >= keep_from:
            referenced.update(data.values())
        elif snap["snapshot_id"] not in expired_prior:
            to_expire.append(snap["snapshot_id"])
    data_root = os.path.join(out_dir, "data")
    removed: list[str] = []
    if os.path.isdir(data_root):
        for vdir in sorted(os.listdir(data_root)):
            vpath = os.path.join(data_root, vdir)
            if not os.path.isdir(vpath):
                continue
            for bdir in sorted(os.listdir(vpath)):
                if not os.path.isdir(os.path.join(vpath, bdir)):
                    continue  # _SUCCESS and other commit markers
                loc = f"{vdir}/{bdir}"
                if loc not in referenced:
                    shutil.rmtree(os.path.join(vpath, bdir))
                    removed.append(loc)
            if not any(
                os.path.isdir(os.path.join(vpath, e)) for e in os.listdir(vpath)
            ):  # version dir fully collected — markers go with it
                shutil.rmtree(vpath)
    manifest["expired_snapshots"] = sorted(expired_prior | set(to_expire))
    _write_manifest(out_dir, manifest, operation=f"expire_below_{keep_from}")
    return {"expired": to_expire, "removed_locations": removed}


def compact_snapshot(
    spark: SparkSession, out_dir: str, target_file_mb: int = 128
) -> dict:
    """Iceberg ``rewrite_data_files`` analog on the versioned layout:
    every bucket whose current location holds more parquet files than
    its bytes justify is rewritten (coalesced toward ``target_file_mb``
    per file) into a NEW ``v=<sid>`` location, all repointed in ONE
    commit.  Row content is unchanged and prior snapshots are untouched
    — the pre-compaction file sets remain readable until
    :func:`expire_snapshots` collects them.  Small-file pressure is the
    classic failure mode of a long-running wave/delete cadence at
    10^12-turn scale; compaction keeps scan task counts proportional to
    bytes, not to commit history.  Returns ``{bucket: (files_before,
    files_after)}`` for the buckets actually rewritten."""
    manifest = read_manifest(out_dir)
    data = manifest.get("data_locations", {})
    if not data:
        raise ValueError(f"{out_dir} has no versioned extraction manifest")
    sid = int(manifest.get("snapshot_id", 0)) + 1
    changed: dict = {}
    for b, loc in sorted(data.items()):
        new_loc = _data_loc(sid, b)  # key is opaque (bucket or batch)
        before, _, after = coalesce_rewrite(
            spark,
            os.path.join(out_dir, "data", loc),
            os.path.join(out_dir, "data", new_loc),
            target_file_mb * 1024 * 1024,
        )
        if after < before:
            data[b] = new_loc
            changed[b] = (before, after)
    if changed:
        _write_manifest(out_dir, manifest, operation="compact")
    return changed


def read_incremental(
    spark: SparkSession, out_dir: str, since_snapshot_id: int,
    upto_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg incremental-scan analog: read ONLY the rows whose bucket
    data changed in snapshots ``(since_snapshot_id, upto_snapshot_id]``
    — the pattern a downstream consumer uses to process each commit's
    new work without rescanning the corpus.  A bucket rewritten by a
    delete/compaction commit surfaces in full (its current file set is
    the change unit — same semantics as Iceberg's changelog at
    file granularity).  Raises ``KeyError`` for unknown snapshot ids;
    returns an empty frame when nothing changed in the range."""
    history = read_manifest(out_dir).get("snapshots", [])
    known = [s["snapshot_id"] for s in history]
    upto = known[-1] if upto_snapshot_id is None and known else upto_snapshot_id
    for sid in (since_snapshot_id, upto):
        if sid not in known:
            raise KeyError(f"no snapshot {sid} in {out_dir}")
    touched: set = set()
    for snap, _, data in _replay(history):
        if snap["snapshot_id"] > since_snapshot_id:
            touched.update(snap.get("data", ()))
        if snap["snapshot_id"] == upto:
            break
    # a bucket changed in the range surfaces as its file set as of `upto`;
    # one the range removed is gone
    locations = [loc for b, loc in data.items() if b in touched]
    if not locations:
        return read_snapshot(spark, out_dir, upto).limit(0)
    return _read_locations(
        spark, out_dir, locations,
        f"incremental range ({since_snapshot_id}, {upto}]",
    )


def versioned_stream_sink(out_dir: str, salt: int = 8):
    """Streaming ingestion into the versioned layout — the Iceberg
    streaming-sink analog: returns a ``foreachBatch`` function that
    extracts each micro-batch of transcript turns and commits it as ONE
    snapshot (location key ``batch-<id>``), with EXACTLY-ONCE semantics
    on top of foreachBatch's at-least-once contract: committed batch
    ids are recorded inside the same atomic manifest commit as the data
    pointer, so a replayed micro-batch is recognized and skipped, and a
    crash between data write and manifest commit leaves only an orphan
    directory (invisible; collected by :func:`expire_snapshots`).

    Streaming outputs are append-only snapshot units, not hash buckets
    — do not mix with the wave writer in one output directory
    (:func:`run_versioned_extraction` refuses).  ``read_snapshot`` /
    ``read_incremental`` / ``compact_snapshot`` / ``expire_snapshots``
    work unchanged (they treat mapping keys opaquely)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(out_dir, exist_ok=True)
        manifest = read_manifest(out_dir)
        if manifest["n_buckets"] is not None:
            raise ValueError(
                f"{out_dir} holds a bucket-wave extraction; streaming "
                "commits would mix layouts — use a separate output"
            )
        if int(batch_id) in manifest.get("stream_batches", []):
            return  # at-least-once redelivery: already committed
        sid_next = int(manifest.get("snapshot_id", 0)) + 1
        loc = f"v={sid_next}/batch={int(batch_id)}"
        extract_turns(batch_df, salt=salt).write.mode("overwrite").parquet(
            os.path.join(out_dir, "data", loc)
        )
        data = dict(manifest.get("data_locations", {}))
        data[f"batch-{int(batch_id)}"] = loc
        manifest["data_locations"] = data
        manifest.setdefault("stream_batches", []).append(int(batch_id))
        _write_manifest(
            out_dir, manifest, operation=f"stream_batch:{int(batch_id)}"
        )

    return write_batch
